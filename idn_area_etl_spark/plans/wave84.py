"""Eighty-fourth wave: vintage analysis, second-digit Benford, and
length-matched sampling.

Reference parity note: cohort economics + forensic follow-up +
distribution-matched corpus construction; every query carries an
exact DuckDB oracle.

- **Vintage analysis** (`q_vintage_analysis`) — are later-acquired
  customers worth less?  Mean lifetime spend by acquisition
  half-year (first-order period), plus the OLS slope of spend on
  the acquisition index replicated on every row — the
  customer-quality trend investors ask about.
- **Second-digit Benford** (`a_benford_second`) — the standard
  forensic follow-up to the wave-18 first-digit screen: observed
  second-digit frequencies of order totals vs the Benford
  second-digit law P(d) = sum_k log10(1 + 1/(10k + d)), with the
  chi-square distance.  The law's probabilities are precomputed
  literals.
- **Length-matched sample** (`s_length_matched_sample`) — eval-set
  construction: downsample English documents so their length
  histogram (10 buckets) matches the zh profile bucket-for-bucket
  (quota = min(count_en, count_zh), lowest doc_ids kept).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.ranks import grouped_running_multi
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

#: Benford second-digit probabilities, P(d) = sum_{k=1..9}
#: log10(1 + 1/(10k + d)) — precomputed to 12 dp
_BENFORD2 = tuple(
    round(
        sum(math.log10(1 + 1 / (10 * k + d)) for k in range(1, 10)), 12
    )
    for d in range(10)
)


# ------------------------------------------------------------------ #
# q_vintage_analysis
# ------------------------------------------------------------------ #


def q_vintage_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean lifetime spend by acquisition half-year + the OLS trend
    slope over vintage indices."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias(
            "spend"
        ),
    )
    vintage = per_cust.select(
        (
            (F.year("first_d") - 1995) * 2
            + (F.month("first_d") > 6).cast("int")
        ).alias("vintage"),
        "spend",
    )
    # r9-opt (guide §2.4): per_v feeds the trend-moments pass and the
    # final select; unstaged, the orders rollup re-ran per consumer
    # (2 duplicate scans).  Vintage-cardinality staged frame.
    per_v = _stage(
        vintage.groupBy("vintage").agg(
            F.count("*").alias("n_customers"),
            (
                F.sum("spend") / F.count("*")
            ).cast("double").alias("mean_spend"),
        )
    )
    m = per_v.agg(
        F.count("*").alias("k"),
        F.sum(F.col("vintage").cast("decimal(20,4)")).alias("sx"),
        F.sum(F.col("mean_spend").cast("decimal(27,6)")).alias("sy"),
        F.sum(
            (F.col("vintage") * F.col("vintage")).cast("decimal(27,4)")
        ).alias("sxx"),
        F.sum(
            (F.col("vintage").cast("double") * F.col("mean_spend")).cast(
                "decimal(38,8)"
            )
        ).alias("sxy"),
    ).select(
        "k",
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
    )
    slope = (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")
    ) / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k"))
    return (
        per_v.crossJoin(F.broadcast(m.select(F.round(slope, 6).alias("trend_slope"))))
        .select(
            "vintage",
            "n_customers",
            F.round("mean_spend", 6).alias("mean_spend"),
            "trend_slope",
        )
        .orderBy("vintage")
    )


Q_VINTAGE_SQL = """
WITH per_cust AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_d,
    SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS spend
  FROM orders GROUP BY o_custkey
),
vintage AS (
  SELECT (year(first_d) - 1995) * 2
      + CASE WHEN month(first_d) > 6 THEN 1 ELSE 0 END AS vintage,
    spend
  FROM per_cust
),
per_v AS (
  SELECT vintage, COUNT(*) AS n_customers,
    CAST(SUM(spend) / COUNT(*) AS DOUBLE) AS mean_spend
  FROM vintage GROUP BY vintage
),
m AS (
  SELECT COUNT(*) AS k,
    CAST(SUM(CAST(vintage AS DECIMAL(20,4))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(mean_spend AS DECIMAL(27,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(vintage * vintage AS DECIMAL(27,4))) AS DOUBLE)
      AS sxx,
    CAST(SUM(CAST(CAST(vintage AS DOUBLE) * mean_spend
         AS DECIMAL(38,8))) AS DOUBLE) AS sxy
  FROM per_v
)
SELECT vintage, CAST(n_customers AS BIGINT) AS n_customers,
  ROUND(mean_spend, 6) AS mean_spend,
  ROUND((sxy - sx * sy / k) / (sxx - sx * sx / k), 6)
    AS trend_slope
FROM per_v CROSS JOIN m
ORDER BY vintage
"""


# ------------------------------------------------------------------ #
# a_benford_second
# ------------------------------------------------------------------ #


def a_benford_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-digit distribution of order totals vs Benford's
    second-digit law."""
    orders = load_table(spark, sf_dir, "orders")
    digits = F.regexp_replace(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        r"[^0-9]",
        "",
    )
    second = F.substring(digits, 2, 1).cast("int")
    hist = (
        orders.select(second.alias("d"))
        .filter(F.col("d").isNotNull())
        .groupBy("d")
        .agg(F.count("*").alias("n"))
    )
    law = spark.createDataFrame(
        [(d, p) for d, p in enumerate(_BENFORD2)], "d int, p double"
    )
    tot = hist.agg(F.sum("n").alias("ntot"))
    return (
        hist.join(F.broadcast(law), "d")
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("ntot"), 6
            ).alias("observed"),
            F.round(F.col("p"), 6).alias("expected"),
            F.round(
                (
                    F.col("n").cast("double")
                    - F.col("ntot") * F.col("p")
                )
                * (
                    F.col("n").cast("double")
                    - F.col("ntot") * F.col("p")
                )
                / (F.col("ntot") * F.col("p")),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("d")
    )


def _benford2_sql() -> str:
    vals = ", ".join(f"({d}, {p!r})" for d, p in enumerate(_BENFORD2))
    return f"""
WITH hist AS (
  SELECT d, COUNT(*) AS n FROM (
    SELECT CAST(substring(regexp_replace(
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        '[^0-9]', '', 'g'), 2, 1) AS INT) AS d
    FROM orders
  ) WHERE d IS NOT NULL GROUP BY d
),
law(d, p) AS (VALUES {vals}),
tot AS (SELECT SUM(n) AS ntot FROM hist)
SELECT hist.d, CAST(n AS BIGINT) AS n,
  ROUND(CAST(n AS DOUBLE) / ntot, 6) AS observed,
  ROUND(CAST(p AS DOUBLE), 6) AS expected,
  ROUND((CAST(n AS DOUBLE) - ntot * CAST(p AS DOUBLE))
        * (CAST(n AS DOUBLE) - ntot * CAST(p AS DOUBLE))
        / (ntot * CAST(p AS DOUBLE)), 6)
    AS chi2_term
FROM hist JOIN law ON hist.d = law.d
CROSS JOIN tot
ORDER BY hist.d
"""


# ------------------------------------------------------------------ #
# s_length_matched_sample
# ------------------------------------------------------------------ #


def s_length_matched_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample en docs to match the zh length histogram (10 x
    100-char buckets, capped at bucket 9)."""
    docs = load_table(spark, sf_dir, "documents")
    # r9: measured and deliberately NOT staged — bucketed's two
    # consumers each read a narrow pushdown projection, and staging
    # the doc-scale frame to merge them benched 2.3× SLOWER at sf0.1
    # (0.65 → 1.51 s solo best-of-3) while writing as many bytes as
    # the duplicate scan reads at cluster scale (storage-neutral).
    bucketed = docs.filter(F.col("lang").isin("en", "zh")).select(
        "doc_id",
        "lang",
        F.least(F.lit(9), F.floor(F.length("text") / 100).cast("int")).alias(
            "bucket"
        ),
    )
    quota = (
        bucketed.groupBy("bucket")
        .agg(
            F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
            F.sum((F.col("lang") == "zh").cast("long")).alias("n_zh"),
        )
        .select(
            "bucket",
            "n_en",
            "n_zh",
            F.least("n_en", "n_zh").alias("quota"),
        )
    )
    # r7, window-funnel gate: bucket has a fixed 10-value domain, so a
    # plain per-bucket rank window would stream a tenth of the en docs
    # through one task; distributed per-group running count instead
    ranked = grouped_running_multi(
        bucketed.filter(F.col("lang") == "en"),
        ["bucket"],
        [F.col("doc_id")],
        {"one": F.lit(1)},
    ).withColumn("rn", F.col("grun_one"))
    kept = ranked.join(F.broadcast(quota), "bucket").filter(
        F.col("rn") <= F.col("quota")
    )
    return (
        quota.join(
            kept.groupBy("bucket").agg(F.count("*").alias("n_kept")),
            "bucket",
            "left",
        )
        .select(
            "bucket",
            "n_en",
            "n_zh",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("bucket")
    )


S_MATCHED_SQL = """
WITH bucketed AS (
  SELECT doc_id, lang,
    LEAST(9, CAST(FLOOR(length(text) / 100.0) AS INT)) AS bucket
  FROM documents WHERE lang IN ('en', 'zh')
),
quota AS (
  SELECT bucket,
    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
    SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS n_zh,
    LEAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END),
          SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END)) AS quota
  FROM bucketed GROUP BY bucket
),
ranked AS (
  SELECT bucket, doc_id,
    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM bucketed WHERE lang = 'en'
),
kept AS (
  SELECT r.bucket, COUNT(*) AS n_kept
  FROM ranked r JOIN quota q ON r.bucket = q.bucket
  WHERE rn <= quota
  GROUP BY r.bucket
)
SELECT q.bucket, CAST(n_en AS BIGINT) AS n_en,
  CAST(n_zh AS BIGINT) AS n_zh,
  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept
FROM quota q LEFT JOIN kept k ON q.bucket = k.bucket
ORDER BY q.bucket
"""


SPECS = [
    QuerySpec(
        "q_vintage_analysis",
        q_vintage_analysis,
        Q_VINTAGE_SQL,
        doc="mean lifetime spend by acquisition half-year + trend",
        tags=("bi", "cohort"),
    ),
    QuerySpec(
        "a_benford_second",
        a_benford_second,
        _benford2_sql(),
        doc="second-digit Benford screen with precomputed law",
        tags=("audit", "stats"),
    ),
    QuerySpec(
        "s_length_matched_sample",
        s_length_matched_sample,
        S_MATCHED_SQL,
        doc="downsample en to match the zh length histogram",
        tags=("sampling", "dataset-prep"),
    ),
]
