"""Seventy-ninth wave: DP-release plumbing, SRM detection, and
revenue pacing.

Reference parity note: privacy-release mechanics + experimentation
ops + pacing dashboards; every query carries an exact DuckDB oracle.

- **Noisy counts** (`s_dp_noisy_counts`) — the Laplace-mechanism
  release pipeline for per-nation customer counts at epsilon = 1
  (sensitivity 1): noise = -b sign(u - 1/2) ln(1 - 2|u - 1/2|) with
  a DETERMINISTIC md5 uniform standing in for the RNG, so the
  whole release is oracle-checkable.  (A real deployment swaps the
  seed for secure randomness — the plumbing, clipping and
  post-processing shape is what this query certifies.)
- **SRM check** (`a_srm_check`) — the sample-ratio-mismatch guard:
  chi-square of observed md5-arm user counts against the intended
  50/50 split; the first thing every experimentation platform
  validates before reading a metric.
- **Revenue pacing** (`q_revenue_pacing`) — cumulative January
  revenue vs the linear month target (total * day/31): daily
  ahead/behind amounts and the pace ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# s_dp_noisy_counts
# ------------------------------------------------------------------ #


def s_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism per-nation customer counts (eps = 1,
    deterministic md5 'randomness' for checkability)."""
    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("true_n")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp:"), F.col("c_nationkey").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**52))
    )
    centered = u - 0.5
    noise = (
        -F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
    )  # b = sensitivity/eps = 1
    return counts.select(
        "c_nationkey",
        "true_n",
        F.round(noise, 6).alias("noise"),
        F.greatest(
            F.lit(0.0), F.round(F.col("true_n") + noise, 6)
        ).alias("released_n"),
    ).orderBy("c_nationkey")


S_DP_SQL = """
WITH counts AS (
  SELECT c_nationkey, COUNT(*) AS true_n
  FROM customer GROUP BY c_nationkey
),
noisy AS (
  SELECT c_nationkey, true_n,
    -SIGN(u - 0.5) * ln(1.0 - 2.0 * ABS(u - 0.5)) AS noise
  FROM (
    SELECT c_nationkey, true_n,
      CAST(('0x' || substring(md5('dp:' ||
          CAST(c_nationkey AS VARCHAR)), 1, 13)) AS UBIGINT)
        / 4503599627370496.0 AS u
    FROM counts
  )
)
SELECT c_nationkey, CAST(true_n AS BIGINT) AS true_n,
  ROUND(noise, 6) AS noise,
  GREATEST(0.0, ROUND(true_n + noise, 6)) AS released_n
FROM noisy ORDER BY c_nationkey
"""


# ------------------------------------------------------------------ #
# a_srm_check
# ------------------------------------------------------------------ #


def a_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square SRM guard on the md5 user-arm split vs 50/50."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    counts = users.select(arm.alias("g")).groupBy("g").agg(
        F.count("*").alias("n")
    )
    wide = counts.agg(
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
    )
    tot = (F.col("n0") + F.col("n1")).cast("double")
    exp = tot / 2.0
    chi2 = (
        (F.col("n0") - exp) * (F.col("n0") - exp) / exp
        + (F.col("n1") - exp) * (F.col("n1") - exp) / exp
    )
    return wide.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841459).alias("srm_alarm"),  # chi2_{1, .05}
    )


A_SRM_SQL = """
WITH users AS (SELECT DISTINCT user_id FROM events),
counts AS (
  SELECT CAST(('0x' || substring(md5('arm:' ||
      CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g,
    COUNT(*) AS n
  FROM users GROUP BY 1
),
wide AS (
  SELECT MAX(CASE WHEN g = 0 THEN n END) AS n0,
    MAX(CASE WHEN g = 1 THEN n END) AS n1
  FROM counts
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
  ROUND((n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)
        / ((n0 + n1) / 2.0)
      + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)
        / ((n0 + n1) / 2.0), 6) AS chi2,
  ((n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)
      / ((n0 + n1) / 2.0)
    + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)
      / ((n0 + n1) / 2.0) > 3.841459) AS srm_alarm
FROM wide
"""


# ------------------------------------------------------------------ #
# q_revenue_pacing
# ------------------------------------------------------------------ #


def q_revenue_pacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative January event value vs the linear month target."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): daily feeds the month total and the
    # cumulative pass; unstaged, the events scan + rollup re-ran per
    # consumer (2 duplicate scans).  ≤31-row staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    daily = _stage(
        ev.groupBy(
            F.dayofmonth(F.to_date("ts")).alias("d")
        ).agg(
            F.sum(F.col("value").cast("decimal(27,6)")).alias("rev")
        )
    )
    tot = daily.agg(F.sum("rev").alias("month_total"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d", F.sum("rev").over(w).alias("cum_rev")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.col("cum_rev").cast("double").alias("cum_rev"),
            F.round(
                F.col("month_total").cast("double") * F.col("d") / 31.0,
                6,
            ).alias("linear_target"),
            F.round(
                F.col("cum_rev").cast("double")
                / (
                    F.col("month_total").cast("double")
                    * F.col("d")
                    / 31.0
                ),
                6,
            ).alias("pace_ratio"),
        )
        .orderBy("d")
    )


Q_PACING_SQL = """
WITH daily AS (
  SELECT dayofmonth(CAST(ts AS DATE)) AS d,
    SUM(CAST(value AS DECIMAL(27,6))) AS rev
  FROM events GROUP BY 1
),
tot AS (SELECT SUM(rev) AS month_total FROM daily),
cum AS (
  SELECT d, SUM(rev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW) AS cum_rev
  FROM daily
)
SELECT d, CAST(cum_rev AS DOUBLE) AS cum_rev,
  ROUND(CAST(month_total AS DOUBLE) * d / 31.0, 6) AS linear_target,
  ROUND(CAST(cum_rev AS DOUBLE)
        / (CAST(month_total AS DOUBLE) * d / 31.0), 6) AS pace_ratio
FROM cum CROSS JOIN tot
ORDER BY d
"""


SPECS = [
    QuerySpec(
        "s_dp_noisy_counts",
        s_dp_noisy_counts,
        S_DP_SQL,
        doc="Laplace-mechanism noisy counts (eps=1, seeded for parity)",
        tags=("privacy", "dataset-prep"),
    ),
    QuerySpec(
        "a_srm_check",
        a_srm_check,
        A_SRM_SQL,
        doc="chi-square sample-ratio-mismatch guard on the md5 split",
        tags=("experimentation",),
    ),
    QuerySpec(
        "q_revenue_pacing",
        q_revenue_pacing,
        Q_PACING_SQL,
        doc="cumulative revenue vs linear month target (pace ratio)",
        tags=("bi", "timeseries"),
    ),
]
