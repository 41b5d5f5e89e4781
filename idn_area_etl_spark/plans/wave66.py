"""Sixty-sixth wave: binary-segmentation changepoint, negative
binomial moments, and the Atkinson index.

Reference parity note: time-series segmentation + count modeling +
inequality measurement; every query carries an exact DuckDB oracle.

- **Best SSE split** (`a_best_split_sse`) — one step of binary
  segmentation: the day boundary that minimizes total within-
  segment sum of squared errors of daily revenue, found by scanning
  all 29 candidate splits with prefix sums (constant-size after
  the daily rollup).  Complements the wave-28 CUSUM statistic with
  the variance-reduction view.
- **Negative binomial fit** (`a_negbin_moments`) — method-of-moments
  (r, p) for per-user event counts: p = mean/var, r = mean^2 /
  (var - mean); the standard over-dispersion model behind count
  forecasting.  Exact integer sums; the two estimates are single
  float expressions.
- **Atkinson index** (`a_atkinson_index`) — inequality of customer
  balances (epsilon = 1): 1 - geomean/mean over positive balances,
  with the geometric mean via exp of the exact-decimal sum of logs.
  Complements Gini (wave21) and Lorenz deciles (wave27).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_best_split_sse
# ------------------------------------------------------------------ #


def a_best_split_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single split of the 30-day revenue series by total SSE,
    with the explained-variance share."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): daily feeds the prefix-sum pass and the
    # grand totals; unstaged, the events rollup re-ran per consumer
    # (2 duplicate scans).  30-row staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    daily = _stage(
        ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d")
        ).agg(
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("y")
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "d",
        F.count("*").over(w).alias("k"),
        F.sum(F.col("y").cast("decimal(27,6)")).over(w)
        .cast("double")
        .alias("cs"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,8)")).over(w)
        .cast("double")
        .alias("css"),
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum(F.col("y").cast("decimal(27,6)")).cast("double").alias("S"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,8)"))
        .cast("double")
        .alias("SS"),
    )
    cand = pre.crossJoin(F.broadcast(tot)).filter(
        (F.col("k") >= 2) & (F.col("k") <= F.col("n") - 2)
    )
    sse_left = F.col("css") - F.col("cs") * F.col("cs") / F.col("k")
    sse_right = (F.col("SS") - F.col("css")) - (
        F.col("S") - F.col("cs")
    ) * (F.col("S") - F.col("cs")) / (F.col("n") - F.col("k"))
    sse_total = F.col("SS") - F.col("S") * F.col("S") / F.col("n")
    scored = cand.select(
        "d",
        F.round(sse_left + sse_right, 4).alias("sse_split"),
        F.round(sse_total, 4).alias("sse_total"),
        F.round(
            1.0 - (sse_left + sse_right) / sse_total, 6
        ).alias("explained"),
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy("sse_split", "d")
            ),
        )
        .filter(F.col("rnk") == 1)
        .select(
            F.col("d").alias("split_after_day"),
            "sse_split",
            "sse_total",
            "explained",
        )
    )


A_SPLIT_SQL = """
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
pre AS (
  SELECT d,
    COUNT(*) OVER wnd AS k,
    CAST(SUM(CAST(y AS DECIMAL(27,6))) OVER wnd AS DOUBLE) AS cs,
    CAST(SUM(CAST(y * y AS DECIMAL(38,8))) OVER wnd AS DOUBLE) AS css
  FROM daily
  WINDOW wnd AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
),
tot AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS S,
    CAST(SUM(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS SS
  FROM daily
),
scored AS (
  SELECT d,
    ROUND((css - cs * cs / k)
      + ((SS - css) - (S - cs) * (S - cs) / (n - k)), 4) AS sse_split,
    ROUND(SS - S * S / n, 4) AS sse_total,
    ROUND(1.0 - ((css - cs * cs / k)
      + ((SS - css) - (S - cs) * (S - cs) / (n - k)))
      / (SS - S * S / n), 6) AS explained
  FROM pre CROSS JOIN tot
  WHERE k >= 2 AND k <= n - 2
)
SELECT d AS split_after_day, sse_split, sse_total, explained
FROM scored
QUALIFY ROW_NUMBER() OVER (ORDER BY sse_split, d) = 1
"""


# ------------------------------------------------------------------ #
# a_negbin_moments
# ------------------------------------------------------------------ #


def a_negbin_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial (r, p) for per-user event
    counts."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    stats = per_user.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    n = F.col("n").cast("double")
    mean = F.col("sc").cast("double") / n
    var = (
        F.col("scc").cast("double") - F.col("sc").cast("double") * mean
    ) / (n - 1.0)
    return stats.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(mean, 6).alias("mean_events"),
        F.round(var, 6).alias("var_events"),
        F.round(mean / var, 6).alias("p_hat"),
        F.round(mean * mean / (var - mean), 6).alias("r_hat"),
    )


A_NEGBIN_SQL = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
),
stats AS (
  SELECT COUNT(*) AS n, SUM(c) AS sc, SUM(c * c) AS scc
  FROM per_user
)
SELECT CAST(n AS BIGINT) AS n_users,
  ROUND(CAST(sc AS DOUBLE) / n, 6) AS mean_events,
  ROUND((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)
         * (CAST(sc AS DOUBLE) / n)) / (n - 1.0), 6) AS var_events,
  ROUND((CAST(sc AS DOUBLE) / n)
    / ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)
        * (CAST(sc AS DOUBLE) / n)) / (n - 1.0)), 6) AS p_hat,
  ROUND((CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n)
    / ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)
        * (CAST(sc AS DOUBLE) / n)) / (n - 1.0)
       - CAST(sc AS DOUBLE) / n), 6) AS r_hat
FROM stats
"""


# ------------------------------------------------------------------ #
# a_atkinson_index
# ------------------------------------------------------------------ #


def a_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (epsilon = 1) of positive customer
    balances: 1 - geomean/mean."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 0
    )
    stats = cust.agg(
        F.count("*").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(27,6)")).alias("s"),
        F.sum(
            F.log(F.col("c_acctbal")).cast("decimal(27,12)")
        ).alias("sl"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    geomean = F.exp(F.col("sl").cast("double") / F.col("n"))
    return stats.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(mean, 6).alias("mean_bal"),
        F.round(geomean, 6).alias("geomean_bal"),
        F.round(1.0 - geomean / mean, 6).alias("atkinson_eps1"),
    )


A_ATKINSON_SQL = """
WITH stats AS (
  SELECT COUNT(*) AS n,
    SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS s,
    SUM(CAST(ln(c_acctbal) AS DECIMAL(27,12))) AS sl
  FROM customer WHERE c_acctbal > 0
)
SELECT CAST(n AS BIGINT) AS n_customers,
  ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_bal,
  ROUND(exp(CAST(sl AS DOUBLE) / n), 6) AS geomean_bal,
  ROUND(1.0 - exp(CAST(sl AS DOUBLE) / n)
        / (CAST(s AS DOUBLE) / n), 6) AS atkinson_eps1
FROM stats
"""


SPECS = [
    QuerySpec(
        "a_best_split_sse",
        a_best_split_sse,
        A_SPLIT_SQL,
        doc="binary-segmentation best day split by SSE reduction",
        tags=("timeseries", "stats"),
    ),
    QuerySpec(
        "a_negbin_moments",
        a_negbin_moments,
        A_NEGBIN_SQL,
        doc="method-of-moments negative-binomial fit of user counts",
        tags=("stats",),
    ),
    QuerySpec(
        "a_atkinson_index",
        a_atkinson_index,
        A_ATKINSON_SQL,
        doc="Atkinson (eps=1) inequality of positive balances",
        tags=("stats", "bi"),
    ),
]
