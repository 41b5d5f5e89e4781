"""Area extraction pipeline: province / regency / district / village.

Re-expresses the reference ``AreaExtractor`` (extractors.py:103-176)
as a declarative DataFrame flow over routed long-form raw rows:

  header skip (P3) → name coalesce (P4) → non-empty filter (P5) →
  length classification (P9) → first-seen province dedup (A1),

every level in one frame tagged by ``entity``, written as Spark SQL
text (one parse per projection, whatever its size).

Hierarchy is encoded in dotted code strings classified by length —
province=2, regency=5, district=8, village=13 (utils.py:14-17) — and
parents derive by prefix slicing (extractors.py:171-175).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from idn_area_etl_spark.functions.cleaning import (
    clean_name_sql,
    fix_wrapped_name_sql,
    normalize_words_sql,
    sql_let,
    strip_sql,
)

PROVINCE_CODE_LENGTH = 2
REGENCY_CODE_LENGTH = 5
DISTRICT_CODE_LENGTH = 8
VILLAGE_CODE_LENGTH = 13

#: (entity, code length, parent prefix length or None)
AREA_LEVELS = [
    ("province", PROVINCE_CODE_LENGTH, None),
    ("regency", REGENCY_CODE_LENGTH, PROVINCE_CODE_LENGTH),
    ("district", DISTRICT_CODE_LENGTH, REGENCY_CODE_LENGTH),
    ("village", VILLAGE_CODE_LENGTH, DISTRICT_CODE_LENGTH),
]

_LINEAGE = ["page_no", "table_no", "row_no"]

#: the columns of the one area frame, every level in it
AREA_COLUMNS = ["entity", *_LINEAGE, "code", "parent_code", "name"]


def _cell(idx0: int) -> str:
    """Null-safe positional cell access, stripped ('' for missing)."""
    return strip_sql(f"coalesce(get(cells, {idx0}), '')")


def code_name_pairs(routed: DataFrame) -> DataFrame:
    """The P3/P4/P5 pipeline (extractors.py:124-155).

    - skip the two header rows (``row_no >= 2``, extractors.py:129);
    - code := stripped col 0;
    - name := first non-empty of the variant-dependent candidate
      columns — 6-col tables use [1,3], wider use [1,4,5,6]
      (extractors.py:134-140) — cleaned through
      ``normalize_words(clean_name(fix_wrapped_name(s)))``;
    - keep rows with both code and name non-empty.  The test runs on
      a one-element array inside ``inline``, so the optimizer cannot
      push it (and the cleaned name with it) into the routing join.
    """

    def cand(idx0: int) -> str:
        return f"nullif({_cell(idx0)}, '')"

    raw_name = (
        f"CASE WHEN ncols = 6 THEN coalesce({cand(1)}, {cand(3)}, '')"
        f" ELSE coalesce({cand(1)}, {cand(4)}, {cand(5)}, {cand(6)}, '') END"
    )
    name = sql_let(
        raw_name, "v", normalize_words_sql(clean_name_sql(fix_wrapped_name_sql("v")))
    )
    pair = f"named_struct('code', {_cell(0)}, 'name', {name})"
    return routed.where("extractor = 'area' AND row_no >= 2").selectExpr(
        *_LINEAGE, f"inline(filter(array({pair}), p -> p.code != '' AND p.name != ''))"
    )


#: P9 (extractors.py:157-176): the level and the parent prefix by code length
_ENTITY = " ".join(
    ["CASE length(code)"]
    + [f"WHEN {code_len} THEN '{name}'" for name, code_len, _ in AREA_LEVELS]
    + ["END"]
)
_PARENT = " ".join(
    ["CASE length(code)"]
    + [
        f"WHEN {code_len} THEN substring(code, 1, {parent_len})"
        for _, code_len, parent_len in AREA_LEVELS
        if parent_len is not None
    ]
    + ["END"]
)


def classify_codes(pairs: DataFrame) -> DataFrame:
    """P9 length-based split with parent prefix derivation
    (extractors.py:157-176): ``entity`` and ``parent_code`` appended,
    rows of any other code length dropped."""
    return pairs.selectExpr("*", f"{_ENTITY} AS entity", f"{_PARENT} AS parent_code").where(
        "entity IS NOT NULL"
    )


def extract_areas(routed: DataFrame) -> DataFrame:
    """Full area dataflow → one frame of every level, ``AREA_COLUMNS``.

    Each area row is routed, cleaned and classified once; the levels
    stay tagged by ``entity`` instead of being split into frames, so
    the exact CSV sink (writer.py) reads them as one branch of its
    query.  Province codes dedup first-seen in document order (A1),
    run-global like the reference's ``_seen_provinces``; other levels
    keep duplicate codes, as the reference does.  The dedup window
    shuffles every area row once.
    """
    return (
        classify_codes(code_name_pairs(routed))
        .selectExpr(
            *AREA_COLUMNS,
            f"row_number() OVER (PARTITION BY entity, code ORDER BY {', '.join(_LINEAGE)})"
            " AS rn",
        )
        .where("entity <> 'province' OR rn = 1")
        .drop("rn")
    )
