"""Fourth wave: advanced window functions, higher-order array
functions, and unpivot/long-form reshaping.

These fill the engine-native analytic surface SURVEY.md §2.5/§2.8
marks as "absent in the reference, built into Spark": ranking and
analytic windows with explicit frames, lateral reshaping, and
array-typed column math (the embeddings table).

Scale notes: every window partitions on a real key (user_id /
nation / customer) so state per partition stays bounded; the
higher-order array expressions run inside whole-stage codegen (no
UDFs, no Python round-trips); unpivot is a zero-shuffle projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import grouped_running_multi
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Lead/lag — per-user inter-event gap and value delta.
# --------------------------------------------------------------------------


def w_lead_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_val = F.lag("value").over(w)
    next_ts = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") - prev_val, 6).alias("value_delta"),
        (F.unix_micros(next_ts) - F.unix_micros(F.col("ts"))).alias(
            "gap_us"
        ),
    ).orderBy("user_id", "ts", "event_id")


W_LEAD_LAG_SQL = """
SELECT user_id, event_id, ts,
  ROUND(value - LAG(value) OVER w, 6) AS value_delta,
  epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, ts, event_id
"""


# --------------------------------------------------------------------------
# ntile — acctbal quartiles within each nation, then tile summary.
# Unique (acctbal, custkey) ordering keeps tile assignment
# deterministic across engines.
# --------------------------------------------------------------------------


def w_ntile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale (r7, window-funnel gate): c_nationkey has a 25-value
    domain, so a plain per-nation ntile window would stream 1/25th of
    the customer table through one task.  The tile comes from the
    distributed per-group position/total (``grouped_running_multi``)
    via the SQL ntile contract: the first ``n % k`` tiles hold
    ``n//k + 1`` rows, the rest ``n//k``."""
    cust = load_table(spark, sf_dir, "customer")
    pos = grouped_running_multi(
        cust.select("c_nationkey", "c_acctbal", "c_custkey"),
        ["c_nationkey"],
        [F.col("c_acctbal"), F.col("c_custkey")],
        {"one": F.lit(1)},
    )
    k = 4
    rn = F.col("grun_one")
    n = F.col("gtot_one")
    q = F.floor(n / k)
    r = n % k
    big = r * (q + 1)
    tile = F.when(rn <= big, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - big) / q)
    )
    tiled = pos.select(
        "c_nationkey",
        "c_acctbal",
        tile.cast("int").alias("tile"),
    )
    return (
        tiled.groupBy("c_nationkey", "tile")
        .agg(
            F.count("*").alias("n"),
            F.min("c_acctbal").alias("lo"),
            F.max("c_acctbal").alias("hi"),
        )
        .orderBy("c_nationkey", "tile")
    )


W_NTILE_SQL = """
SELECT c_nationkey, tile, COUNT(*) AS n,
       MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
FROM (
  SELECT c_nationkey, c_acctbal,
    NTILE(4) OVER (PARTITION BY c_nationkey
                   ORDER BY c_acctbal, c_custkey) AS tile
  FROM customer
)
GROUP BY c_nationkey, tile
ORDER BY c_nationkey, tile
"""


# --------------------------------------------------------------------------
# Moving frame — trailing-5-order average spend per customer
# (ROWS BETWEEN 4 PRECEDING AND CURRENT ROW).  Exact decimal sum /
# count so partial-frame averages agree bit-for-bit.
# --------------------------------------------------------------------------


def w_moving_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    dec = F.col("o_totalprice").cast("decimal(24,6)")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(dec).over(w).cast("double") / F.count("*").over(w))
        .alias("trailing_avg"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


W_MOVING_AVG_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) OVER w AS DOUBLE)
       / COUNT(*) OVER w AS trailing_avg
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


# --------------------------------------------------------------------------
# Rank distribution — rank / dense_rank / percent_rank / cume_dist of
# supplier balances within nation.  percent_rank and cume_dist are
# single integer-ratio divisions → identical IEEE doubles in both
# engines.
# --------------------------------------------------------------------------


def w_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale (r7, window-funnel gate): s_nationkey has a 25-value
    domain, so plain per-nation rank windows would stream 1/25th of
    the supplier table through one task each.  All four rank
    statistics derive from the per-(nation, balance) rollup's running
    counts (``grouped_running_multi``) — rank/dense_rank/percent_rank/
    cume_dist are functions of (rows before this value, distinct
    values before this value, group total) — then join back to the
    supplier rows on the data-scaled (nation, balance) key."""
    # r9-opt (guide §2.4): the projection feeds the rank rollup and
    # the join-back; unstaged, the supplier scan re-ran per consumer
    # (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    supp = _stage(
        load_table(spark, sf_dir, "supplier").select(
            "s_nationkey", "s_suppkey", "s_acctbal"
        )
    )
    rolled = supp.groupBy("s_nationkey", "s_acctbal").agg(
        F.count("*").alias("cnt")
    )
    run = grouped_running_multi(
        rolled,
        ["s_nationkey"],
        [F.col("s_acctbal").desc()],
        {"cnt": F.col("cnt"), "one": F.lit(1)},
    )
    n = F.col("gtot_cnt")
    rnk = F.col("grun_cnt") - F.col("cnt") + 1
    stats = run.select(
        "s_nationkey",
        "s_acctbal",
        rnk.cast("int").alias("rnk"),
        F.col("grun_one").cast("int").alias("drnk"),
        # SQL contract: percent_rank of a 1-row partition is 0, not 0/0
        F.when(
            n > 1, (rnk - 1).cast("double") / (n - 1).cast("double")
        ).otherwise(F.lit(0.0)).alias("prnk"),
        (F.col("grun_cnt").cast("double") / n.cast("double")).alias("cdist"),
    )
    return (
        supp.select("s_nationkey", "s_suppkey", "s_acctbal")
        .join(stats, ["s_nationkey", "s_acctbal"])
        .select(
            "s_nationkey", "s_suppkey", "s_acctbal",
            "rnk", "drnk", "prnk", "cdist",
        )
        .orderBy("s_nationkey", "rnk", "s_suppkey")
    )


W_RANK_DIST_SQL = """
SELECT s_nationkey, s_suppkey, s_acctbal,
  CAST(RANK() OVER w AS INT) AS rnk,
  CAST(DENSE_RANK() OVER w AS INT) AS drnk,
  PERCENT_RANK() OVER w AS prnk,
  CUME_DIST() OVER w AS cdist
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC)
ORDER BY s_nationkey, rnk, s_suppkey
"""


# --------------------------------------------------------------------------
# RANGE frame over event time — events per user in the trailing hour,
# expressed on the epoch-microsecond axis so both engines use the
# same exact integer range.
# --------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def w_trailing_hour_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_HOUR_US, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count("*").over(w).alias("events_last_hour"),
    ).orderBy("user_id", "ts", "event_id")


W_TRAILING_HOUR_SQL = f"""
SELECT user_id, event_id, ts,
  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_HOUR_US} PRECEDING AND CURRENT ROW)
    AS events_last_hour
FROM events
ORDER BY user_id, ts, event_id
"""


# --------------------------------------------------------------------------
# Higher-order array functions — embedding norms and element stats,
# fully JVM-side (transform / aggregate / array_min / array_max).
# Per-element double casts + sequential left-fold keep the sum order
# identical to DuckDB's list_sum.
# --------------------------------------------------------------------------


def a_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sumsq = F.aggregate(
        vec, F.lit(0.0), lambda acc, x: acc + x * x
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sumsq), 6).alias("l2_norm"),
        F.round(F.array_min(vec), 6).alias("min_elem"),
        F.round(F.array_max(vec), 6).alias("max_elem"),
    ).orderBy("vec_id")


A_EMBEDDING_NORMS_SQL = """
SELECT vec_id,
  CAST(len(embedding) AS INT) AS dim,
  ROUND(sqrt(list_sum(list_transform(embedding,
    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
  ROUND(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)
    AS min_elem,
  ROUND(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)
    AS max_elem
FROM embeddings
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# Unpivot — wide per-year conditional revenue by order priority,
# reshaped long.  The unpivot itself is a pure projection (no
# shuffle); only the feeding agg exchanges on the year key.
# --------------------------------------------------------------------------


def q_unpivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(24,6)")

    def bucket(prio: str, alias: str):
        return (
            F.sum(F.when(F.col("o_orderpriority") == prio, dec))
            .cast("double")
            .alias(alias)
        )

    wide = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        bucket("1-URGENT", "urgent"),
        bucket("3-MEDIUM", "medium"),
        bucket("5-LOW", "low"),
    )
    return (
        wide.unpivot(
            ["o_year"],
            ["urgent", "medium", "low"],
            "priority",
            "revenue",
        )
        .filter(F.col("revenue").isNotNull())
        .orderBy("o_year", "priority")
    )


Q_UNPIVOT_SQL = """
WITH wide AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
         THEN CAST(o_totalprice AS DECIMAL(24,6)) END) AS DOUBLE) AS urgent,
    CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
         THEN CAST(o_totalprice AS DECIMAL(24,6)) END) AS DOUBLE) AS medium,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
         THEN CAST(o_totalprice AS DECIMAL(24,6)) END) AS DOUBLE) AS low
  FROM orders GROUP BY 1
)
SELECT o_year, priority, revenue FROM (
  SELECT o_year, 'urgent' AS priority, urgent AS revenue FROM wide
  UNION ALL
  SELECT o_year, 'medium' AS priority, medium AS revenue FROM wide
  UNION ALL
  SELECT o_year, 'low' AS priority, low AS revenue FROM wide
)
WHERE revenue IS NOT NULL
ORDER BY o_year, priority
"""


# --------------------------------------------------------------------------
# posexplode / lateral unnest — flatten the first 4 embedding
# elements with their positions (bounded slice keeps output linear).
# --------------------------------------------------------------------------


def a_explode_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    head = F.slice(
        F.transform(F.col("embedding"), lambda x: x.cast("double")), 1, 4
    )
    return (
        emb.select("vec_id", F.posexplode(head).alias("pos", "elem"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("int").alias("pos"),
            F.round(F.col("elem"), 6).alias("elem"),
        )
        .orderBy("vec_id", "pos")
    )


A_EXPLODE_SQL = """
SELECT vec_id,
  CAST(p.pos AS INT) AS pos,
  ROUND(CAST(embedding[CAST(p.pos AS INT)] AS DOUBLE), 6) AS elem
FROM embeddings,
  (SELECT UNNEST(range(1, 5)) AS pos) p
WHERE p.pos <= len(embedding)
ORDER BY vec_id, pos
"""


SPECS = [
    QuerySpec("w_lead_lag_events", w_lead_lag_events, W_LEAD_LAG_SQL,
              doc="lead/lag analytic window (gap + delta)",
              tags=("window", "events")),
    QuerySpec("w_ntile_customers", w_ntile_customers, W_NTILE_SQL,
              doc="ntile quartiles within partition + tile summary",
              tags=("window",)),
    QuerySpec("w_moving_avg_orders", w_moving_avg_orders, W_MOVING_AVG_SQL,
              doc="ROWS BETWEEN trailing-5 moving average",
              tags=("window",)),
    QuerySpec("w_rank_distribution", w_rank_distribution, W_RANK_DIST_SQL,
              doc="rank/dense_rank/percent_rank/cume_dist",
              tags=("window",)),
    QuerySpec("w_trailing_hour_count", w_trailing_hour_count,
              W_TRAILING_HOUR_SQL,
              doc="RANGE frame on epoch-microsecond event time",
              tags=("window", "events")),
    QuerySpec("a_embedding_norms", a_embedding_norms, A_EMBEDDING_NORMS_SQL,
              doc="higher-order transform/aggregate array math",
              tags=("array", "similarity")),
    QuerySpec("q_unpivot_priority", q_unpivot_priority, Q_UNPIVOT_SQL,
              doc="wide→long unpivot of conditional aggregates",
              tags=("agg", "reshape")),
    QuerySpec("a_explode_embedding", a_explode_embedding, A_EXPLODE_SQL,
              doc="posexplode / lateral unnest with ordinality",
              tags=("array",)),
]
