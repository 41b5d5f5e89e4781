"""Forty-seventh wave: co-purchase recommendations, rolling
correlation, and CUPED variance reduction.

Reference parity note: recommender / time-series / experimentation
extensions; every query carries an exact DuckDB oracle.

- **Co-purchase similarity** (`j_copurchase_topk`) — "frequently
  bought together": item-item cosine over order co-occurrence
  (co(p,q) / sqrt(n(p) n(q))), top-5 neighbors per focus part.  The
  self-join key is the order — co-occurrence never materializes an
  all-pairs product across parts — and the focus-part filter is
  pushed below the join.
- **Rolling correlation** (`q_rolling_corr_daily`) — trailing-7-day
  Pearson correlation between daily click and purchase counts from
  pure integer window sums (the only float math is the final
  one-expression formula — bit-exact on both engines).
- **CUPED** (`a_cuped_adjustment`) — covariate-adjusted A/B metric:
  theta = cov(pre, post)/var(pre) over all users, post-period user
  value adjusted by theta*(pre - mean(pre)), reported per md5 arm
  with the pooled variance-reduction share.  All user sums are
  exact decimal; every float step is a single deterministic
  expression over them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# j_copurchase_topk
# ------------------------------------------------------------------ #


def j_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 co-purchase neighbors by cosine for parts with
    l_partkey < 50."""
    li = load_table(spark, sf_dir, "lineitem")
    # r9-opt (guide §2.4): op feeds three consumers (npart + both pair
    # sides) and npart two (n1/n2); unstaged, the scan → distinct
    # subtree re-ran per consumer (3 duplicate lineitem scans).
    op = _stage(li.select("l_orderkey", "l_partkey").distinct())
    npart = _stage(
        op.groupBy("l_partkey").agg(F.count("*").alias("n_ord"))
    )
    a = op.filter(F.col("l_partkey") < 50).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    co = (
        a.join(b, "ok")
        .filter(F.col("p1") != F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("co"))
    )
    n1 = npart.select(
        F.col("l_partkey").alias("p1"), F.col("n_ord").alias("n1")
    )
    n2 = npart.select(
        F.col("l_partkey").alias("p2"), F.col("n_ord").alias("n2")
    )
    sim = F.round(
        F.col("co").cast("double")
        / F.sqrt((F.col("n1") * F.col("n2")).cast("double")),
        6,
    )
    w = Window.partitionBy("p1").orderBy(F.desc("sim"), "p2")
    return (
        co.join(n1, "p1")
        .join(n2, "p2")
        .select("p1", "p2", "co", sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("p1", "p2", "co", "sim", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("p1", "rnk")
    )


J_COPURCHASE_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
npart AS (
  SELECT l_partkey, COUNT(*) AS n_ord FROM op GROUP BY l_partkey
),
co AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS co
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_partkey < 50
  GROUP BY 1, 2
),
scored AS (
  SELECT p1, p2, co,
    ROUND(CAST(co AS DOUBLE)
          / sqrt(CAST(n1.n_ord * n2.n_ord AS DOUBLE)), 6) AS sim
  FROM co
  JOIN npart n1 ON co.p1 = n1.l_partkey
  JOIN npart n2 ON co.p2 = n2.l_partkey
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p1
    ORDER BY sim DESC, p2) AS rnk
  FROM scored
)
SELECT p1, p2, CAST(co AS BIGINT) AS co, sim, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
ORDER BY p1, rnk
"""


# ------------------------------------------------------------------ #
# q_rolling_corr_daily
# ------------------------------------------------------------------ #


def q_rolling_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day Pearson correlation of daily click vs purchase
    counts, from exact integer window sums."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("c"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("p"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    rolled = daily.select(
        "day",
        F.count("*").over(w).alias("n"),
        F.sum("c").over(w).alias("sc"),
        F.sum("p").over(w).alias("sp"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("scc"),
        F.sum(F.col("p") * F.col("p")).over(w).alias("spp"),
        F.sum(F.col("c") * F.col("p")).over(w).alias("scp"),
    )
    num = (F.col("n") * F.col("scp") - F.col("sc") * F.col("sp")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("scc") - F.col("sc") * F.col("sc")).cast(
            "double"
        )
        * (F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")).cast(
            "double"
        )
    )
    return rolled.select(
        "day",
        F.col("n").cast("int").alias("n_days"),
        F.when(den > 0, F.round(num / den, 6)).alias("corr"),
    ).orderBy("day")


Q_ROLLCORR_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
  FROM events GROUP BY 1
),
rolled AS (
  SELECT day,
    COUNT(*) OVER w AS n,
    SUM(c) OVER w AS sc, SUM(p) OVER w AS sp,
    SUM(c * c) OVER w AS scc, SUM(p * p) OVER w AS spp,
    SUM(c * p) OVER w AS scp
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, CAST(n AS INT) AS n_days,
  CASE WHEN (n * scc - sc * sc) * (n * spp - sp * sp) > 0
    THEN ROUND(CAST(n * scp - sc * sp AS DOUBLE)
      / sqrt(CAST(n * scc - sc * sc AS DOUBLE)
             * CAST(n * spp - sp * sp AS DOUBLE)), 6)
  END AS corr
FROM rolled ORDER BY day
"""


# ------------------------------------------------------------------ #
# a_cuped_adjustment
# ------------------------------------------------------------------ #


def a_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED: per md5 arm, raw vs covariate-adjusted mean post-period
    user value (theta fit on all users), with the pooled
    variance-reduction share."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.to_date("ts") < cut,
                    F.col("value").cast("decimal(20,6)"),
                ).otherwise(F.lit(0).cast("decimal(20,6)"))
            ).alias("x_d"),
            F.sum(
                F.when(
                    F.to_date("ts") >= cut,
                    F.col("value").cast("decimal(20,6)"),
                ).otherwise(F.lit(0).cast("decimal(20,6)"))
            ).alias("y_d"),
        )
        .select(
            "user_id",
            F.col("x_d").cast("double").alias("x"),
            F.col("y_d").cast("double").alias("y"),
        )
    )
    # r9-opt (guide §2.4): per_user feeds the theta moments and the
    # per-arm adjustment; unstaged, the events rollup re-ran per
    # consumer (2 duplicate scans).
    per_user = _stage(per_user)
    moments = per_user.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(27,6)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(27,6)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,10)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,10)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)")).alias("syy"),
    ).select(
        "n",
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
        F.col("syy").cast("double").alias("syy"),
    )
    xbar = F.col("sx") / F.col("n")
    theta = (F.col("sxy") - F.col("n") * xbar * (F.col("sy") / F.col("n"))) / (
        F.col("sxx") - F.col("n") * xbar * xbar
    )
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("arm:"), F.col("user_id").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    adj = per_user.crossJoin(F.broadcast(moments)).select(
        arm.alias("arm"),
        "y",
        (F.col("y") - theta * (F.col("x") - xbar)).alias("y_adj"),
        theta.alias("theta"),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            # exact decimal SUMS, not rounded means: a mean that lands
            # on a half at 6 dp rounds differently across engines
            F.sum(F.col("y").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_y"),
            F.sum(F.col("y_adj").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_y_adj"),
            F.round(F.min("theta"), 6).alias("theta"),
        )
        .orderBy("arm")
    )


A_CUPED_SQL = """
WITH per_user AS (
  SELECT user_id,
    CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
      THEN CAST(value AS DECIMAL(20,6))
      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) AS x,
    CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
      THEN CAST(value AS DECIMAL(20,6))
      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) AS y
  FROM events GROUP BY user_id
),
moments AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
  FROM per_user
),
adj AS (
  SELECT
    CAST(('0x' || substring(md5('arm:' || CAST(user_id AS VARCHAR)),
                              1, 13)) AS UBIGINT) % 2 AS arm,
    y,
    y - ((sxy - n * (sx / n) * (sy / n)) / (sxx - n * (sx / n) * (sx / n)))
      * (x - sx / n) AS y_adj,
    (sxy - n * (sx / n) * (sy / n)) / (sxx - n * (sx / n) * (sx / n))
      AS theta
  FROM per_user CROSS JOIN moments
)
SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sum_y,
  CAST(SUM(CAST(y_adj AS DECIMAL(27,6))) AS DOUBLE) AS sum_y_adj,
  ROUND(MIN(theta), 6) AS theta
FROM adj GROUP BY arm ORDER BY arm
"""


SPECS = [
    QuerySpec(
        "j_copurchase_topk",
        j_copurchase_topk,
        J_COPURCHASE_SQL,
        doc="item-item co-purchase cosine, top-5 per focus part",
        tags=("join", "recommender"),
    ),
    QuerySpec(
        "q_rolling_corr_daily",
        q_rolling_corr_daily,
        Q_ROLLCORR_SQL,
        doc="trailing-7d Pearson corr of daily click vs purchase counts",
        tags=("events", "window", "stats"),
    ),
    QuerySpec(
        "a_cuped_adjustment",
        a_cuped_adjustment,
        A_CUPED_SQL,
        doc="CUPED covariate adjustment per md5 arm with fitted theta",
        tags=("experimentation", "stats"),
    ),
]
