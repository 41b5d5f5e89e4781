"""Twenty-eighth wave: multi-touch attribution, CUSUM change-point
detection, seasonal indexing, Lorenz concentration shares, and a
nearest-event temporal join.

Reference parity note: engine-native analytics (the reference has no
join/window surface, SURVEY.md §2.3/§2.5); every query carries an
exact DuckDB oracle.

- **Multi-touch attribution** (`q_multitouch_attribution`) — each
  purchase splits one unit of credit equally across the same user's
  clicks in the preceding hour (linear attribution; zero-click
  purchases report as unattributed).  The click↔purchase pairing is
  a user-keyed equi-join with a time-range residual predicate — the
  bounded-state shape of the streaming interval join
  (`streaming/joins.py`) in batch form.  Credit weights are the
  per-row double 1/n (identical IEEE both engines) quantized to
  decimal(20,12) before the exact sum — decimal-DIVISION is avoided
  because Spark and DuckDB apply different result-scale rules.
- **CUSUM change-point** (`q_cusum_changepoint`) — cumulative sum of
  deviations from the global mean over the daily revenue series; the
  day with max |CUSUM| is the classic single change-point estimate.
  Global mean from exact decimal sums (a window total over the tiny
  day rollup — keeps the plan at ONE fact scan); the running sum is
  a window over the same rollup; the argmax is a deterministic
  struct-max with day tiebreaker.
- **Seasonal index** (`q_dow_seasonal_index`) — day-of-week revenue
  multipliers (dow mean / overall mean) plus each dow's share; the
  deseasonalization divisor pattern for anomaly pipelines.  Two
  tiny aggs off one fact pass.
- **Lorenz deciles** (`q_lorenz_deciles`) — revenue concentration:
  decile thresholds over per-customer spend (one percentile agg,
  broadcast — wave-27 stance), then per-decile customer counts and
  exact-decimal revenue shares; the tabular Lorenz curve behind the
  wave-21 Gini scalar.
- **Nearest-event join** (`j_nearest_purchase_click`) — for each
  purchase, the user's nearest click in EITHER direction within
  ±30 min: a user-keyed equi-join bounded by the time window, then a
  struct-min argmin (|Δt| in exact microseconds — `unix_micros` /
  `epoch_us`; whole-second casts truncate vs round differently
  across engines).  Complements `operators/joins.py:asof_join`
  (backward-only) with bidirectional nearest matching; the candidate
  set stays bounded because the window predicate prunes to ±30 min
  per purchase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.ranks import discrete_quantiles
from idn_area_etl_spark.plans.registry import QuerySpec, discrete_thresholds_sql
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# q_multitouch_attribution
# ------------------------------------------------------------------ #

ATTR_WINDOW_MIN = 60


def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's unit of credit
    splits equally over the user's clicks in the preceding hour."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    # r8-opt: purchases feeds the attribution join AND the per-user
    # purchase count; the joined touch list feeds the per-purchase
    # touch count AND the credit split — unstaged, each consumer
    # re-ran the events scan (5 scans / 14 exchange refs in the
    # captured plan); staged, events is scanned twice (clicks inside
    # the staged join, purchases once) (guide §2.4).
    purchases = _stage(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = purchases.join(clicks, "user_id").filter(
        (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(
                f"INTERVAL {ATTR_WINDOW_MIN} MINUTES"
            )
        )
    )
    joined = _stage(joined.select("purchase_id", "user_id", "click_id"))
    per_purchase = joined.groupBy("purchase_id").agg(
        F.count("*").alias("n_touches")
    )
    credited = (
        joined.join(per_purchase, "purchase_id")
        .select(
            "user_id",
            "click_id",
            (F.lit(1.0) / F.col("n_touches").cast("double"))
            .cast("decimal(20,12)")
            .alias("credit"),
        )
    )
    attributed = credited.groupBy("user_id").agg(
        F.count("*").alias("n_credited_clicks"),
        F.sum("credit").cast("double").alias("credit_sum"),
    )
    n_purch = purchases.groupBy("user_id").agg(
        F.count("*").alias("n_purchases")
    )
    return (
        n_purch.join(attributed, "user_id", "left")
        .select(
            "user_id",
            "n_purchases",
            F.coalesce("n_credited_clicks", F.lit(0)).alias(
                "n_credited_clicks"
            ),
            F.round(F.coalesce("credit_sum", F.lit(0.0)), 6).alias(
                "credit_sum"
            ),
        )
        .orderBy("user_id")
    )


Q_MULTITOUCH_SQL = f"""
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
joined AS (
  SELECT p.user_id, p.purchase_id, c.click_id
  FROM purchases p JOIN clicks c ON p.user_id = c.user_id
  WHERE c.click_ts <= p.purchase_ts
    AND c.click_ts >= p.purchase_ts - INTERVAL {ATTR_WINDOW_MIN} MINUTE
),
per_purchase AS (
  SELECT purchase_id, COUNT(*) AS n_touches FROM joined GROUP BY 1
),
credited AS (
  SELECT j.user_id, j.click_id,
    CAST(1.0 / CAST(pp.n_touches AS DOUBLE) AS DECIMAL(20,12))
      AS credit
  FROM joined j JOIN per_purchase pp USING (purchase_id)
),
attributed AS (
  SELECT user_id, COUNT(*) AS n_credited_clicks,
    CAST(SUM(credit) AS DOUBLE) AS credit_sum
  FROM credited GROUP BY user_id
),
np AS (
  SELECT user_id, COUNT(*) AS n_purchases FROM purchases GROUP BY 1
)
SELECT np.user_id, CAST(np.n_purchases AS BIGINT) AS n_purchases,
  CAST(COALESCE(a.n_credited_clicks, 0) AS BIGINT)
    AS n_credited_clicks,
  ROUND(COALESCE(a.credit_sum, 0.0), 6) AS credit_sum
FROM np LEFT JOIN attributed a USING (user_id)
ORDER BY user_id
"""


# ------------------------------------------------------------------ #
# q_cusum_changepoint
# ------------------------------------------------------------------ #


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point estimate: argmax |CUSUM| of daily revenue
    deviations from the global mean."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(rev.cast("decimal(24,6)")).alias("x_dec")
    )
    w_all = Window.partitionBy()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.select(
        "day",
        (
            F.col("x_dec").cast("double")
            - F.sum("x_dec").over(w_all).cast("double")
            / F.count("*").over(w_all).cast("double")
        ).alias("dev"),
    ).select("day", F.round(F.sum("dev").over(w), 6).alias("cusum"))
    return cusum.agg(
        F.count("*").alias("n_days"),
        F.max(
            F.struct(
                F.abs("cusum").alias("mag"),
                F.col("day").alias("day"),
                F.col("cusum").alias("cusum"),
            )
        ).alias("top")
    ).select(
        "n_days",
        F.col("top.day").alias("changepoint_day"),
        F.col("top.cusum").alias("cusum_at_peak"),
    )


Q_CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
      AS x_dec
  FROM lineitem GROUP BY 1
),
totals AS (SELECT SUM(x_dec) AS tot, COUNT(*) AS n FROM daily),
cusum AS (
  SELECT day,
    ROUND(SUM(CAST(x_dec AS DOUBLE)
              - CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)) OVER (
      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ), 6) AS cusum
  FROM daily CROSS JOIN totals
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cusum) AS n_days,
  day AS changepoint_day, cusum AS cusum_at_peak
FROM cusum ORDER BY ABS(cusum) DESC, day DESC LIMIT 1
"""


# ------------------------------------------------------------------ #
# q_dow_seasonal_index
# ------------------------------------------------------------------ #


def q_dow_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week revenue multipliers vs the all-days mean."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(rev.cast("decimal(24,6)")).alias("x_dec")
    )
    # r9-opt (guide §2.4): dow feeds the grand total and the final
    # select; unstaged, the lineitem rollup re-ran per consumer (2
    # duplicate scans).  7-row staged frame.
    dow = _stage(
        daily.groupBy(
            F.dayofweek("day").alias("dow")
        ).agg(
            F.count("*").alias("n_days"),
            F.sum("x_dec").alias("dow_rev"),
        )
    )
    tot = dow.agg(
        F.sum("dow_rev").alias("tot"), F.sum("n_days").alias("all_days")
    )
    dmean = F.col("dow_rev").cast("double") / F.col("n_days").cast("double")
    gmean = F.col("tot").cast("double") / F.col("all_days").cast("double")
    return (
        dow.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            F.round(dmean, 4).alias("mean_rev"),
            F.round(dmean / gmean, 6).alias("seasonal_index"),
            F.round(
                F.col("dow_rev").cast("double")
                / F.col("tot").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("dow")
    )


Q_DOW_SQL = """
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
      AS x_dec
  FROM lineitem GROUP BY 1
),
dow AS (
  SELECT dayofweek(day) + 1 AS dow, COUNT(*) AS n_days,
    SUM(x_dec) AS dow_rev
  FROM daily GROUP BY 1
),
tot AS (SELECT SUM(dow_rev) AS tot, SUM(n_days) AS all_days FROM dow)
SELECT CAST(dow AS INT) AS dow, CAST(n_days AS BIGINT) AS n_days,
  ROUND(CAST(dow_rev AS DOUBLE) / CAST(n_days AS DOUBLE), 4)
    AS mean_rev,
  ROUND((CAST(dow_rev AS DOUBLE) / CAST(n_days AS DOUBLE))
        / (CAST(tot AS DOUBLE) / CAST(all_days AS DOUBLE)), 6)
    AS seasonal_index,
  ROUND(CAST(dow_rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
FROM dow CROSS JOIN tot
ORDER BY dow
"""


# ------------------------------------------------------------------ #
# q_lorenz_deciles
# ------------------------------------------------------------------ #

LORENZ_BUCKETS = 10


def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: per spend-decile customer counts and
    exact decimal revenue shares (tabular Lorenz curve)."""
    o = load_table(spark, sf_dir, "orders")
    # r9-opt (guide §2.4): per_cust feeds the decile thresholds, the
    # total and the bucketed aggregation; unstaged, the orders rollup
    # re-ran per consumer (2 duplicate scans).
    per_cust = _stage(
        o.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias(
                "spend_dec"
            )
        ).withColumn("spend", F.col("spend_dec").cast("double"))
    )
    qs = [(i, LORENZ_BUCKETS) for i in range(1, LORENZ_BUCKETS)]
    # discrete decile thresholds (r7: no interpolated percentiles)
    thr = discrete_quantiles(per_cust, F.col("spend"), qs).crossJoin(
        per_cust.agg(F.sum("spend_dec").alias("tot_dec"))
    )
    bucket = 1 + sum(
        (F.col("spend") > F.col(f"t{i}")).cast("int")
        for i in range(len(qs))
    )
    return (
        per_cust.crossJoin(F.broadcast(thr))
        .select(bucket.alias("decile"), "spend_dec", "tot_dec")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("spend_dec").cast("double").alias("decile_spend"),
            F.round(
                F.sum("spend_dec").cast("double")
                / F.first("tot_dec").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("decile")
    )


def _lorenz_sql() -> str:
    qs = [(i, LORENZ_BUCKETS) for i in range(1, LORENZ_BUCKETS)]
    thr = discrete_thresholds_sql("per_cust", "spend", qs)
    ex = " + ".join(
        f"CASE WHEN spend > t{i} THEN 1 ELSE 0 END"
        for i in range(len(qs))
    )
    return f"""
WITH per_cust AS (
  SELECT o_custkey,
    SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS spend_dec,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS spend
  FROM orders GROUP BY 1
),
thr AS (SELECT * FROM {thr} CROSS JOIN (SELECT SUM(spend_dec) AS tot_dec FROM per_cust) AS _tot)
SELECT 1 + ({ex}) AS decile,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(spend_dec) AS DOUBLE) AS decile_spend,
  ROUND(CAST(SUM(spend_dec) AS DOUBLE) / CAST(ANY_VALUE(tot_dec) AS DOUBLE), 6)
    AS share
FROM per_cust CROSS JOIN thr
GROUP BY 1 ORDER BY decile
"""


# ------------------------------------------------------------------ #
# j_nearest_purchase_click
# ------------------------------------------------------------------ #

NEAREST_WINDOW_MIN = 30


def j_nearest_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the user's nearest click within ±30 min
    (either direction); deterministic |Δt| → click_id tie-break."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    dt_us = F.abs(
        F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
    )
    cand = purchases.join(clicks, "user_id").filter(
        dt_us <= NEAREST_WINDOW_MIN * 60 * 1_000_000
    )
    best = cand.groupBy("user_id", "purchase_id", "purchase_ts").agg(
        F.min(
            F.struct(
                dt_us.alias("dt_us"),
                F.col("click_id").alias("click_id"),
            )
        ).alias("best")
    )
    return best.select(
        "user_id",
        "purchase_id",
        F.col("best.click_id").alias("nearest_click_id"),
        F.col("best.dt_us").alias("dt_micros"),
    ).orderBy("purchase_id")


J_NEAREST_SQL = f"""
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
cand AS (
  SELECT p.user_id, p.purchase_id, c.click_id,
    ABS(epoch_us(p.purchase_ts) - epoch_us(c.click_ts)) AS dt_us
  FROM purchases p JOIN clicks c ON p.user_id = c.user_id
  WHERE ABS(epoch_us(p.purchase_ts) - epoch_us(c.click_ts))
        <= {NEAREST_WINDOW_MIN} * 60 * 1000000
)
SELECT user_id, purchase_id, click_id AS nearest_click_id,
  CAST(dt_us AS BIGINT) AS dt_micros
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY purchase_id ORDER BY dt_us, click_id) AS rn
  FROM cand
) WHERE rn = 1
ORDER BY purchase_id
"""


SPECS = [
    QuerySpec(
        "q_multitouch_attribution",
        q_multitouch_attribution,
        Q_MULTITOUCH_SQL,
        doc="linear multi-touch credit over preceding-hour clicks",
        tags=("events", "attribution", "join"),
    ),
    QuerySpec(
        "q_cusum_changepoint",
        q_cusum_changepoint,
        Q_CUSUM_SQL,
        doc="argmax |CUSUM| change-point of daily revenue",
        tags=("timeseries", "stats"),
    ),
    QuerySpec(
        "q_dow_seasonal_index",
        q_dow_seasonal_index,
        Q_DOW_SQL,
        doc="day-of-week seasonal multipliers and shares",
        tags=("timeseries",),
    ),
    QuerySpec(
        "q_lorenz_deciles",
        q_lorenz_deciles,
        _lorenz_sql(),
        doc="spend-decile customer counts and revenue shares",
        tags=("analytics", "distribution"),
    ),
    QuerySpec(
        "j_nearest_purchase_click",
        j_nearest_purchase_click,
        J_NEAREST_SQL,
        doc="nearest click within +/-30min per purchase (both directions)",
        tags=("join", "temporal"),
    ),
]
