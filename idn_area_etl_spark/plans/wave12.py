"""Twelfth wave: the end-to-end curation pipeline as ONE declarative
plan — the flagship composition showing the engine as a corpus-curation
system rather than a bag of operators.

quality gate → exact dedup (first-copy representative) → deterministic
split assignment → per-split token accounting, all in a single lazy
DataFrame (Catalyst sees the whole pipeline: the quality filter pushes
below the dedup shuffle, column pruning reaches the scan, and the
final rollup is map-side combinable).  Every stage reuses the
already-certified primitives, and the whole composition is
SQL-expressible → exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.curate import split_sql
from idn_area_etl_spark.functions.cleaning import WHITESPACE
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.text import quality_score_expr
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

QUALITY_MIN = 0.3


def p_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality filter → exact dedup (keep lowest doc_id
    per content hash) → 80/10/10 hash split → per-(split, lang)
    doc/token accounting."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        F.expr(f"size(split(trim(text), {WHITESPACE})) AS n_tokens"),
        quality_score_expr("text").alias("quality"),
    ).where(f"quality >= {QUALITY_MIN!r}D")

    # First-copy representative: min(doc_id) per content hash with a
    # PRIMITIVE agg buffer → HashAggregate with map-side partial
    # combine, then join the (tiny, text-free) staged projection back
    # on the unique doc_id to recover lang/n_tokens.  A struct-min
    # (min(struct(doc_id, ...))) is also map-side combinable but
    # Spark plans any non-primitive agg buffer as SortAggregate —
    # sorting the full corpus on both sides of the shuffle; measured
    # 1.10 s → 0.74 s at sf0.1, and at 100 TB hash-agg beats a global
    # sort by far more.  The stage keeps the scoring regex to ONE
    # pass, carrying only 4 narrow columns (never the text).
    small = _stage(
        scored.selectExpr("doc_id", "lang", "n_tokens", "md5(text) AS content_hash")
    )
    reps = small.groupBy("content_hash").agg(F.expr("min(doc_id) AS doc_id"))
    deduped = (
        reps.select("doc_id")
        .join(small, "doc_id")
        .select("doc_id", "lang", "n_tokens")
    )
    return (
        deduped.selectExpr("lang", "n_tokens", f"{split_sql('doc_id', 80, 10)} AS split")
        .groupBy("split", "lang")
        .agg(
            F.expr("count(*) AS n_docs"),
            F.expr("CAST(sum(n_tokens) AS BIGINT) AS total_tokens"),
        )
        .orderBy("split", "lang")
    )


P_CURATION_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang, text,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
    ROUND(
      0.4 * (CAST(len(regexp_extract_all(lower(text),
               '\\b(the|a|of|and|to|in|is)\\b')) AS DOUBLE)
             / len(string_split_regex(trim(text), '\\s+')))
      + 0.3 * LEAST(1.0, CAST(length(text) AS DOUBLE) / 500.0)
      + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
               / length(text)),
    6) AS quality
  FROM documents
),
filtered AS (SELECT * FROM scored WHERE quality >= {QUALITY_MIN}),
deduped AS (
  SELECT * FROM filtered
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
assigned AS (
  SELECT lang, n_tokens,
    CASE
      WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
                                   1, 13)) AS UBIGINT) % 100 < 80 THEN 'train'
      WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
                                   1, 13)) AS UBIGINT) % 100 < 90 THEN 'val'
      ELSE 'test'
    END AS split
  FROM deduped
)
SELECT split, lang, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM assigned GROUP BY split, lang
ORDER BY split, lang
"""


SPECS = [
    QuerySpec("p_curation_pipeline", p_curation_pipeline, P_CURATION_SQL,
              headline=True,
              doc="end-to-end curation: quality → dedup → split → account",
              tags=("pipeline",)),
]
