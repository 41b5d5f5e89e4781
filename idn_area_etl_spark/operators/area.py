"""Area extraction pipeline: province / regency / district / village.

Re-expresses the reference ``AreaExtractor`` (extractors.py:103-176)
as a declarative DataFrame flow over routed long-form raw rows:

  header skip (P3) → name coalesce (P4) → non-empty filter (P5) →
  length-classified split (P9) → first-seen province dedup (A1).

Hierarchy is encoded in dotted code strings classified by length —
province=2, regency=5, district=8, village=13 (utils.py:14-17) — and
parents derive by prefix slicing (extractors.py:171-175).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idn_area_etl_spark.functions.cleaning import (
    apply_sql,
    clean_name_sql,
    fix_wrapped_name_sql,
    normalize_words_sql,
    py_strip,
)
from idn_area_etl_spark.operators.ordering import first_seen

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


def _cell(i_1based) -> F.Column:
    """Null-safe positional cell access, stripped ('' for missing)."""
    return py_strip(F.coalesce(F.get("cells", i_1based - 1), F.lit("")))


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
    area = routed.filter(
        (F.col("extractor") == "area") & (F.col("row_no") >= 2)
    )

    def cand(idx0: int) -> F.Column:
        return F.nullif(py_strip(F.coalesce(F.get("cells", idx0), F.lit(""))), F.lit(""))

    raw_name = F.when(
        F.col("ncols") == 6, F.coalesce(cand(1), cand(3), F.lit(""))
    ).otherwise(F.coalesce(cand(1), cand(4), cand(5), cand(6), F.lit("")))
    name = apply_sql(
        raw_name,
        lambda x: normalize_words_sql(clean_name_sql(fix_wrapped_name_sql(x))),
    )
    pair = F.struct(_cell(1).alias("code"), name.alias("name"))
    return area.select(
        *_LINEAGE,
        F.inline(F.filter(
            F.array(pair), lambda p: (p["code"] != "") & (p["name"] != "")
        )),
    )


def classify_codes(pairs: DataFrame) -> DataFrame:
    """P9 length-based split with parent prefix derivation
    (extractors.py:157-176) as a single-pass ``when`` chain."""
    length = F.length("code")
    entity = F.lit(None).cast("string")
    parent = F.lit(None).cast("string")
    for name, code_len, parent_len in reversed(AREA_LEVELS):
        entity = F.when(length == code_len, F.lit(name)).otherwise(entity)
        parent_val = (
            F.lit(None).cast("string")
            if parent_len is None
            else F.substring("code", 1, parent_len)
        )
        parent = F.when(length == code_len, parent_val).otherwise(parent)
    return (
        pairs.withColumn("entity", entity)
        .withColumn("parent_code", parent)
        .filter(F.col("entity").isNotNull())
    )


def extract_areas(routed: DataFrame) -> dict[str, DataFrame]:
    """Full area dataflow → four entity DataFrames.

    The classified stream is split by four filters off one plan; the
    exact CSV sink (writer.py) unions the four back into one query, so
    the shared upstream executes once with nothing persisted
    (multi-sink fan-out, SURVEY.md §2.1 S6).  Province codes dedup
    first-seen in document order (A1).
    """
    classified = classify_codes(code_name_pairs(routed))
    out: dict[str, DataFrame] = {}
    for name, _len, parent_len in AREA_LEVELS:
        df = classified.filter(F.col("entity") == name)
        if name == "province":
            df = first_seen(df, ["code"], _LINEAGE)
            df = df.select(*_LINEAGE, "code", "name")
        else:
            df = df.select(*_LINEAGE, "code", "parent_code", "name")
        out[name] = df
    return out
