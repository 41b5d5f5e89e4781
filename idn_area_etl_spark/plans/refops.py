"""Reference-operator analogs runnable on the synthetic test tables.

Each query exercises one SURVEY.md §2 operator (P4/P6/P9/P11/A1/F1/F3
and the full area/island pipelines) against the driver's parquet
tables (or inline VALUES for pipeline parity), with an exact DuckDB
oracle.  The operator implementations are the *real* engine operators
from idn_area_etl_spark.operators / .functions — not re-derivations —
so the oracle match certifies the production code paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.functions.cleaning import clean_name, normalize_words
from idn_area_etl_spark.operators.area import classify_codes
from idn_area_etl_spark.operators.island import island_parent_code_sql
from idn_area_etl_spark.operators.ordering import first_seen
from idn_area_etl_spark.operators.registry import extract_all
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.raw import raw_from_cell_grids
from idn_area_etl_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Synthesized dotted codes (island/area shape) from the orders table.
# --------------------------------------------------------------------------


def _synth_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = F.format_string(
        "%02d.%02d.%05d",
        F.col("o_orderkey") % 90 + 10,
        F.col("o_custkey") % 100,
        F.col("o_orderkey") % 100000,
    )
    code = F.when(
        F.col("o_orderkey") % 7 == 0, F.replace(base, F.lit("."), F.lit("-"))
    ).otherwise(base)
    return orders.select("o_orderkey", code.alias("code"))


_SYNTH_CODES_SQL = """
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0 THEN replace(base, '.', '-') ELSE base END AS code
  FROM (
    SELECT o_orderkey,
      printf('%02d.%02d.%05d', o_orderkey % 90 + 10, o_custkey % 100,
             o_orderkey % 100000) AS base
    FROM orders
  )
"""


def rf_island_code_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: island-code validity regex filter (utils.py:20,
    extractors.py:274-276) over synthesized codes (1/7 invalid)."""
    from idn_area_etl_spark.operators.island import ISLAND_CODE_PATTERN

    return (
        _synth_codes(spark, sf_dir)
        .filter(F.col("code").rlike(ISLAND_CODE_PATTERN))
        # unsorted: output order is a sink concern (the reference's
        # document-order contract lives in the WRITER, byte-parity
        # tested); the driver compare is order-insensitive
    )


RF_CODE_FILTER_SQL = f"""
WITH codes AS ({_SYNTH_CODES_SQL})
SELECT o_orderkey, code FROM codes
WHERE regexp_matches(code, '^\\d{{2}}\\.\\d{{2}}\\.\\d{{5}}$')
ORDER BY o_orderkey
"""


def rf_parent_from_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: parent regency from island code; '00' middle → '' NULL-parent
    (extractors.py:244-248) — via the production island_parent_code_sql."""
    from idn_area_etl_spark.operators.island import ISLAND_CODE_PATTERN

    return (
        _synth_codes(spark, sf_dir)
        .filter(F.col("code").rlike(ISLAND_CODE_PATTERN))
        .select(
            "o_orderkey",
            "code",
            F.expr(island_parent_code_sql("code")).alias("regency_code"),
        )
    )


RF_PARENT_SQL = f"""
WITH codes AS ({_SYNTH_CODES_SQL})
SELECT o_orderkey, code,
  CASE WHEN split_part(code, '.', 2) = '00' THEN ''
       ELSE substr(code, 1, 5) END AS regency_code
FROM codes
WHERE regexp_matches(code, '^\\d{{2}}\\.\\d{{2}}\\.\\d{{5}}$')
ORDER BY o_orderkey
"""


def rf_length_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: length-classified hierarchy split + parent prefix slicing
    (extractors.py:157-176) via the production classify_codes, applied
    to synthesized 2/5/8/13-char dotted-code prefixes."""
    orders = load_table(spark, sf_dir, "orders")
    full = F.format_string(
        "%02d.%02d.%02d.%04d",
        F.col("o_orderkey") % 90 + 10,
        F.col("o_custkey") % 90 + 10,
        F.col("o_orderkey") % 90 + 10,
        F.col("o_orderkey") % 9000 + 1000,
    )
    cut = (
        F.when(F.col("o_orderkey") % 4 == 0, 2)
        .when(F.col("o_orderkey") % 4 == 1, 5)
        .when(F.col("o_orderkey") % 4 == 2, 8)
        .otherwise(13)
    )
    pairs = orders.select(
        "o_orderkey", F.substring(full, F.lit(1), cut).alias("code")
    )
    out = classify_codes(pairs.withColumn("name", F.lit("x")))
    return out.select("o_orderkey", "code", "entity", "parent_code")


RF_LENGTH_SPLIT_SQL = """
WITH codes AS (
  SELECT o_orderkey,
    substr(full_code, 1, CASE o_orderkey % 4 WHEN 0 THEN 2 WHEN 1 THEN 5
                    WHEN 2 THEN 8 ELSE 13 END) AS code
  FROM (
    SELECT o_orderkey,
      printf('%02d.%02d.%02d.%04d', o_orderkey % 90 + 10, o_custkey % 90 + 10,
             o_orderkey % 90 + 10, o_orderkey % 9000 + 1000) AS full_code
    FROM orders
  )
)
SELECT o_orderkey, code,
  CASE length(code) WHEN 2 THEN 'province' WHEN 5 THEN 'regency'
       WHEN 8 THEN 'district' WHEN 13 THEN 'village' END AS entity,
  CASE length(code) WHEN 5 THEN substr(code, 1, 2)
       WHEN 8 THEN substr(code, 1, 5)
       WHEN 13 THEN substr(code, 1, 8) END AS parent_code
FROM codes
ORDER BY o_orderkey
"""


def rf_name_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: first-non-empty candidate projection (extractors.py:143-150)."""
    docs = load_table(spark, sf_dir, "documents")
    picked = F.coalesce(
        F.nullif(F.trim("lang"), F.lit("")),
        F.nullif(F.trim("source"), F.lit("")),
        F.lit("unknown"),
    )
    return docs.select("doc_id", picked.alias("picked"))


RF_COALESCE_SQL = """
SELECT doc_id,
  COALESCE(NULLIF(trim(lang), ''), NULLIF(trim(source), ''), 'unknown') AS picked
FROM documents
ORDER BY doc_id
"""


def rf_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: the clean_name regex pipeline (utils.py:23-38) applied to a
    deliberately messied document text (id + newline prefix/suffix)."""
    docs = load_table(spark, sf_dir, "documents")
    messy = F.concat(
        F.col("doc_id").cast("string"),
        F.lit("\n"),
        F.col("text"),
        F.lit("\n"),
        F.col("n_chars").cast("string"),
    )
    return docs.select(
        "doc_id", clean_name(messy).alias("cleaned")
    )


RF_CLEAN_TEXT_SQL = """
SELECT doc_id,
  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    regexp_replace(trim(CAST(doc_id AS VARCHAR) || chr(10) || text ||
                        chr(10) || CAST(n_chars AS VARCHAR)),
    '^\\d+\\n', ''), '\\n\\d+$', ''), '\\n+', ' ', 'g'),
    '^\\d+\\s+', ''), '\\s{2,}', ' ', 'g')) AS cleaned
FROM documents
ORDER BY doc_id
"""


def rf_normalize_spaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: normalize_words de-spacing (utils.py:68-79) on a synthesized
    single-char-token string built from the source column."""
    docs = load_table(spark, sf_dir, "documents")
    spaced = F.trim(
        F.regexp_replace(F.substring("source", 1, 5), "(.)", "$1 ")
    )
    return docs.select(
        "doc_id",
        spaced.alias("spaced"),
        normalize_words(spaced).alias("normalized"),
    )


RF_NORMALIZE_SQL = """
WITH s AS (
  SELECT doc_id,
    trim(regexp_replace(substr(source, 1, 5), '(.)', '\\1 ', 'g')) AS spaced
  FROM documents
)
SELECT doc_id, spaced,
  CASE WHEN regexp_matches(spaced, '\\S{2,}') THEN spaced
       ELSE replace(spaced, ' ', '') END AS normalized
FROM s
ORDER BY doc_id
"""


def rf_first_seen_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: first-seen-wins dedup (extractors.py:110-112,166-169) via the
    production first_seen operator: each customer's first order."""
    orders = load_table(spark, sf_dir, "orders")
    return first_seen(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    ).select("o_custkey", "o_orderkey", "o_orderdate")


RF_FIRST_SEEN_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
WHERE rn = 1
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# Full-pipeline parity on inline VALUES fixtures: the Spark side runs
# the production classify→route→extract dataflow; the oracle replicates
# the semantics in SQL.  (Name-wrap repair and coordinate
# canonicalization are identity on these fixtures — their full
# behavior is certified by the pytest suites.)
# --------------------------------------------------------------------------

_AREA_FIXTURE_DATA = [
    ("11", "Aceh"),
    ("11", "Aceh Lagi"),              # duplicate province: first-seen wins
    ("11.01", "1 Kabupaten Aceh Selatan"),
    ("11.01.01", "2  Bakongan"),      # double space collapses
    ("11.01.01.2001", "Keude Bakongan"),
    ("", "No Code"),                  # dropped: empty code
    ("12", ""),                       # dropped: empty name
    ("12", "Sumatera Utara"),
    ("9999", "Wrong Length"),         # dropped: unclassifiable length
]


def rf_area_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = [
        ["K O D E", "NAMA PROVINSI / KABUPATEN / KOTA", "", "", "", "", ""],
        ["", "", "", "", "", "", ""],
    ] + [[code, name, "", "", "", "", ""] for code, name in _AREA_FIXTURE_DATA]
    raw = raw_from_cell_grids(spark, [(1, 0, grid)])
    return (
        extract_all(raw)["area"]
        .select("entity", "code", "parent_code", "name")
        .orderBy("code", "entity")
    )


_AREA_VALUES = ", ".join(
    f"({i + 2}, '{code}', '{name}')"
    for i, (code, name) in enumerate(_AREA_FIXTURE_DATA)
)

RF_AREA_PIPELINE_SQL = f"""
WITH raw(row_no, code, name) AS (VALUES {_AREA_VALUES}),
cleaned AS (
  SELECT row_no, trim(code) AS code,
    regexp_replace(regexp_replace(trim(name), '^\\d+\\s+', ''),
                   '\\s{{2,}}', ' ', 'g') AS name
  FROM raw
),
valid AS (SELECT * FROM cleaned WHERE code <> '' AND name <> ''),
tagged AS (
  SELECT row_no, code, name,
    CASE length(code) WHEN 2 THEN 'province' WHEN 5 THEN 'regency'
         WHEN 8 THEN 'district' WHEN 13 THEN 'village' END AS entity
  FROM valid
),
prov AS (
  SELECT 'province' AS entity, code, CAST(NULL AS VARCHAR) AS parent_code, name
  FROM (
    SELECT code, name,
      ROW_NUMBER() OVER (PARTITION BY code ORDER BY row_no) AS rn
    FROM tagged WHERE entity = 'province'
  ) WHERE rn = 1
),
rest AS (
  SELECT entity, code,
    CASE length(code) WHEN 5 THEN substr(code, 1, 2)
         WHEN 8 THEN substr(code, 1, 5)
         WHEN 13 THEN substr(code, 1, 8) END AS parent_code,
    name
  FROM tagged WHERE entity IN ('regency', 'district', 'village')
)
SELECT * FROM prov UNION ALL SELECT * FROM rest
ORDER BY code, entity
"""

_ISLAND_FIXTURE_DATA = [
    ("11.01.40001", "Pulau Satu", "03°19'03.44\" N 097°07'41.73\" E", "BP", ""),
    ("11.00.40002", "Pulau Dua", "", "TBP", "(PPKT)"),
    ("INVALID", "Pulau Salah", "", "", ""),
    ("11.02.40003", "Pulau Tiga", "05°47'34.72\" S 094°58'26.09\" W", "BP", "PPKT x"),
    ("11.01", "Pendek", "", "", ""),
]


def rf_island_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = [["Kode Pulau", "Nama Pulau", "Koordinat", "BP/TBP", "Keterangan"]] + [
        list(row) for row in _ISLAND_FIXTURE_DATA
    ]
    raw = raw_from_cell_grids(spark, [(1, 0, grid)])
    return (
        extract_all(raw)["island"]
        .select(
            "code", "regency_code", "coordinate", "is_populated",
            "is_outermost_small", "name",
        )
        .orderBy("code")
    )


_ISLAND_VALUES = ", ".join(
    "('{}', '{}', '{}', '{}', '{}')".format(c, n, co.replace("'", "''"), s, i)
    for c, n, co, s, i in _ISLAND_FIXTURE_DATA
)

RF_ISLAND_PIPELINE_SQL = f"""
WITH raw(code, name, coordinate, status, info) AS (VALUES {_ISLAND_VALUES})
SELECT code,
  CASE WHEN split_part(code, '.', 2) = '00' THEN ''
       ELSE substr(code, 1, 5) END AS regency_code,
  coordinate,
  CASE WHEN regexp_matches(upper(status), '^\\s*BP\\b') THEN 1 ELSE 0 END
    AS is_populated,
  CASE WHEN contains(upper(info), 'PPKT') THEN 1 ELSE 0 END
    AS is_outermost_small,
  name
FROM raw
WHERE regexp_matches(code, '^\\d{{2}}\\.\\d{{2}}\\.\\d{{5}}$')
ORDER BY code
"""


SPECS = [
    QuerySpec("rf_island_code_filter", rf_island_code_filter,
              RF_CODE_FILTER_SQL, doc="P6 regex validity filter",
              tags=("refop",)),
    QuerySpec("rf_parent_from_code", rf_parent_from_code, RF_PARENT_SQL,
              doc="P11 parent-from-island-code", tags=("refop",)),
    QuerySpec("rf_length_split", rf_length_split, RF_LENGTH_SPLIT_SQL,
              doc="P9 length-classified hierarchy split", tags=("refop",)),
    QuerySpec("rf_name_coalesce", rf_name_coalesce, RF_COALESCE_SQL,
              doc="P4 first-non-empty projection", tags=("refop",)),
    QuerySpec("rf_clean_text", rf_clean_text, RF_CLEAN_TEXT_SQL,
              doc="F1 clean_name regex pipeline", tags=("refop",)),
    QuerySpec("rf_normalize_spaced", rf_normalize_spaced, RF_NORMALIZE_SQL,
              doc="F3 normalize_words de-spacing", tags=("refop",)),
    QuerySpec("rf_first_seen_orders", rf_first_seen_orders, RF_FIRST_SEEN_SQL,
              doc="A1 first-seen-wins dedup", tags=("refop",)),
    QuerySpec("rf_area_pipeline", rf_area_pipeline, RF_AREA_PIPELINE_SQL,
              doc="full area pipeline on VALUES fixture", tags=("refop",)),
    QuerySpec("rf_island_pipeline", rf_island_pipeline, RF_ISLAND_PIPELINE_SQL,
              doc="full island pipeline on VALUES fixture", tags=("refop",)),
]
