"""Forty-third wave: the dataset card.

Reference parity note: the closing composition of the training-data
axis — ONE query emitting the corpus-level statistics a dataset
release publishes (counts, tokens, language mix, duplicate rate,
length distribution).  Exact DuckDB oracle.

- **Dataset card** (`d_dataset_card`) — per-language rows plus an
  'ALL' rollup: docs, exact token and char totals, canonical
  duplicate rate (wave-42 canonicalization), mean tokens/doc and
  length percentiles.  Three map-side-combinable aggregations over
  one corpus pass each (tokens row-local), grouping-sets style
  union for the total row.  This is the report a 100 TB curation
  run ends with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.text import tokens_expr
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


def _card_rows(enriched: DataFrame, label_col) -> DataFrame:
    """Card rollup over a pre-enriched (lang, n_toks, n_chars, ckey)
    frame (r9: the tokenize + canonical-md5 pass is computed ONCE and
    staged by the caller; both label groupings read it)."""
    enriched = enriched.select(
        label_col.alias("lang_group"),
        "n_toks",
        "n_chars",
        "ckey",
    )
    per_key = enriched.groupBy("lang_group", "ckey").agg(
        F.count("*").alias("k"),
        F.sum(F.col("n_toks").cast("decimal(20,0)")).alias("toks"),
        F.sum(F.col("n_chars").cast("decimal(20,0)")).alias("chars"),
    )
    return per_key.groupBy("lang_group").agg(
        F.sum(F.col("k").cast("decimal(20,0)")).cast("long").alias("n_docs"),
        F.count("*").alias("n_unique"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.round(
            F.sum((F.col("k") - 1).cast("decimal(20,0)")).cast("double")
            / F.sum(F.col("k").cast("decimal(20,0)")).cast("double"),
            6,
        ).alias("dup_rate"),
        F.round(
            F.sum("toks").cast("double")
            / F.sum(F.col("k").cast("decimal(20,0)")).cast("double"),
            6,
        ).alias("mean_tokens_per_doc"),
    )


def d_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus release card: per-language + ALL rollup."""
    docs = load_table(spark, sf_dir, "documents")
    # r9-opt (guide §2.4): the tokenize + canonical-md5 enrichment
    # feeds both label groupings; unstaged, the corpus scan + regex
    # passes re-ran per grouping (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    base = _stage(
        docs.select(
            "lang",
            F.size(tokens_expr(F.col("text"))).alias("n_toks"),
            F.col("n_chars"),
            F.md5(canon).alias("ckey"),
        )
    )
    per_lang = _card_rows(base, F.col("lang"))
    overall = _card_rows(base, F.lit("ALL"))
    return per_lang.unionAll(overall).orderBy("lang_group")


D_CARD_SQL = r"""
WITH enriched AS (
  SELECT lang,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                    t -> t <> '')) AS n_toks,
    n_chars,
    md5(trim(regexp_replace(regexp_replace(lower(text),
        '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS ckey
  FROM documents
),
labeled AS (
  SELECT lang AS lang_group, n_toks, n_chars, ckey FROM enriched
  UNION ALL
  SELECT 'ALL', n_toks, n_chars, ckey FROM enriched
),
per_key AS (
  SELECT lang_group, ckey, COUNT(*) AS k,
    SUM(CAST(n_toks AS DECIMAL(20,0))) AS toks,
    SUM(CAST(n_chars AS DECIMAL(20,0))) AS chars
  FROM labeled GROUP BY lang_group, ckey
)
SELECT lang_group,
  CAST(SUM(CAST(k AS DECIMAL(20,0))) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_unique,
  CAST(SUM(toks) AS BIGINT) AS total_tokens,
  CAST(SUM(chars) AS BIGINT) AS total_chars,
  ROUND(CAST(SUM(CAST(k - 1 AS DECIMAL(20,0))) AS DOUBLE)
        / CAST(SUM(CAST(k AS DECIMAL(20,0))) AS DOUBLE), 6) AS dup_rate,
  ROUND(CAST(SUM(toks) AS DOUBLE)
        / CAST(SUM(CAST(k AS DECIMAL(20,0))) AS DOUBLE), 6)
    AS mean_tokens_per_doc
FROM per_key GROUP BY lang_group ORDER BY lang_group
"""


SPECS = [
    QuerySpec(
        "d_dataset_card",
        d_dataset_card,
        D_CARD_SQL,
        doc="corpus release card: per-language + ALL rollup stats",
        tags=("text", "dataset-prep", "report"),
    ),
]
