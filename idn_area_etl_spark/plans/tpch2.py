"""Second wave of TPC-H-shaped analytics: correlated subqueries,
market share, disjunctive predicates, grouping sets, time-series
gap-fill, and skew-safe salted aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.skew import salted_agg
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.plans.tpch import dsum, _revenue
from idn_area_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# q17 shape — small-quantity revenue vs per-part average (correlated
# aggregate subquery → broadcast join of per-part averages).
# --------------------------------------------------------------------------


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = (
        li.groupBy("l_partkey")
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(24,6)")).cast("double")
                / F.count("*")
            ).alias("avg_qty")
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dsum(F.col("l_extendedprice"), "_s").cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_items"),
        )
    )


Q17_SQL = """
WITH avg_qty AS (
  SELECT l_partkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / 7.0
    AS avg_yearly,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty USING (l_partkey)
WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty
"""


# --------------------------------------------------------------------------
# q18 shape — large orders (HAVING subquery → semi join on aggregate).
# --------------------------------------------------------------------------


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(24,6)")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN (
  SELECT l_orderkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) > 150
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# q19 shape — disjunctive multi-predicate revenue.
# --------------------------------------------------------------------------


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(10, 30)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity").between(20, 40)))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(dsum(_revenue(), "revenue"), F.count("*").alias("n_items"))
    )


Q19_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


# --------------------------------------------------------------------------
# q22 shape — scalar subquery threshold + anti join.
# --------------------------------------------------------------------------


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(24,6)")).cast("double")
                / F.count("*")
            ).alias("avg_bal")
        )
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    )
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_bal"),
        )
        .orderBy("c_mktsegment")
    )


Q22_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# q15 shape — top supplier by revenue (agg view + max equality join).
# --------------------------------------------------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    # r9-opt (guide §2.4): rev feeds the max probe and the winner
    # filter; unstaged, the lineitem rollup re-ran per consumer (2
    # duplicate scans).  Supplier-cardinality staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    rev = _stage(
        li.groupBy("l_suppkey").agg(dsum(_revenue(), "total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
      AS DOUBLE) AS total_revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# q8 shape — market share of one supplier nation per order year.
# --------------------------------------------------------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("n_name") == "CHINA", rev)
    return (
        joined.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            dsum(target, "china_revenue"),
            dsum(rev, "total_revenue"),
        )
        .withColumn(
            "market_share",
            F.round(F.col("china_revenue") / F.col("total_revenue"), 6),
        )
        .orderBy("order_year")
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
  CAST(SUM(CAST(CASE WHEN n_name = 'CHINA'
       THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(24,6)))
    AS DOUBLE) AS china_revenue,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
    AS DOUBLE) AS total_revenue,
  ROUND(CAST(SUM(CAST(CASE WHEN n_name = 'CHINA'
       THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(24,6)))
    AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
    AS DOUBLE), 6) AS market_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY year(o_orderdate)
ORDER BY order_year
"""


# --------------------------------------------------------------------------
# GROUPING SETS with grouping_id.
# --------------------------------------------------------------------------


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT)
                 AS gid,
               COUNT(*) AS n_orders
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        ORDER BY gid, o_orderstatus, o_orderpriority
    """)


Q_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
  COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
ORDER BY gid, o_orderstatus, o_orderpriority
"""


# --------------------------------------------------------------------------
# Time-series gap-fill: 6-hour buckets including empty ones.
# --------------------------------------------------------------------------


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 21600).cast("long") * 21600
    )
    counts = ev.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))
    bounds = counts.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    all_buckets = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 6 HOURS"))
        ).alias("bucket")
    )
    return (
        all_buckets.join(counts, "bucket", "left")
        .select("bucket", F.coalesce("n", F.lit(0)).alias("n_signups"))
        .orderBy("bucket")
    )


Q_GAPFILL_SQL = """
WITH counts AS (
  SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP)
           AS bucket,
         COUNT(*) AS n
  FROM events WHERE event_type = 'signup'
  GROUP BY 1
),
buckets AS (
  SELECT unnest(generate_series((SELECT MIN(bucket) FROM counts),
                                (SELECT MAX(bucket) FROM counts),
                                INTERVAL 6 HOUR)) AS bucket
)
SELECT b.bucket, COALESCE(c.n, 0) AS n_signups
FROM buckets b LEFT JOIN counts c ON b.bucket = c.bucket
ORDER BY b.bucket
"""


# --------------------------------------------------------------------------
# Salted skew-safe aggregation — identical results to a plain groupBy.
# --------------------------------------------------------------------------


def q_salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev.withColumn("_v", F.col("value").cast("decimal(24,6)")),
        keys=["user_id"],
        aggs={
            "n_events": ("event_id", "count"),
            "total_value": ("_v", "sum"),
            "max_value": ("value", "max"),
        },
        salt_col=F.xxhash64("event_id"),
        n_salts=16,
    )
    return out.select(
        "user_id",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "max_value",
    ).orderBy("user_id")


Q_SALTED_SQL = """
SELECT user_id, COUNT(event_id) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS total_value,
  MAX(value) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


SPECS = [
    QuerySpec("q17_small_quantity_revenue", q17_small_quantity_revenue,
              Q17_SQL, doc="correlated aggregate subquery", tags=("join",)),
    QuerySpec("q18_large_orders", q18_large_orders, Q18_SQL,
              doc="HAVING-subquery semi join", tags=("join",)),
    QuerySpec("q19_disjunctive_revenue", q19_disjunctive_revenue, Q19_SQL,
              doc="disjunctive multi-predicate join", tags=("join",)),
    QuerySpec("q22_idle_rich_customers", q22_idle_rich_customers, Q22_SQL,
              doc="scalar subquery + anti join", tags=("join",)),
    QuerySpec("q15_top_supplier", q15_top_supplier, Q15_SQL,
              doc="agg view + max equality", tags=("agg",)),
    QuerySpec("q8_market_share", q8_market_share, Q8_SQL,
              doc="conditional revenue share per year", tags=("agg",)),
    QuerySpec("q_grouping_sets", q_grouping_sets, Q_GROUPING_SETS_SQL,
              doc="GROUPING SETS + grouping_id", tags=("agg",)),
    QuerySpec("q_events_gapfill", q_events_gapfill, Q_GAPFILL_SQL,
              doc="time-bucket gap-fill", tags=("events",)),
    QuerySpec("q_salted_user_stats", q_salted_user_stats, Q_SALTED_SQL,
              doc="salted two-phase skew-safe agg", tags=("agg",)),
]
