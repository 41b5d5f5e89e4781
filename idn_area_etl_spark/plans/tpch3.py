"""Third wave of TPC-H-shaped analytics adapted to the synthetic
schema (no partsupp / l_shipmode / l_receiptdate columns — each
canonical query keeps its *shape* but swaps the missing column for an
available analogue; the adaptation is noted per query).

Scale notes: every small side is broadcast explicitly; the big
(lineitem) side only shuffles on its aggregation keys, and per-order /
per-part aggregates happen before any join back so the shuffled
payload is the aggregate, not the raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.plans.tpch import _revenue, dsum
from idn_area_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# q2 shape — minimum-cost supplier per part (correlated MIN subquery →
# per-part min join-back).  partsupp.ps_supplycost is adapted to the
# observed unit price l_extendedprice / l_quantity from lineitem.
# Scale: both aggs shuffle on l_partkey(+l_suppkey), then the tiny
# best-price side joins back; part/supplier dims broadcast.
# --------------------------------------------------------------------------


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    supp = load_table(spark, sf_dir, "supplier")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit).alias("unit_price")
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_price").alias("best_price")
    )
    return (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_price") == F.col("best_price")),
        )
        .drop("b_partkey")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "best_price")
        .orderBy("p_partkey", "s_suppkey")
    )


Q2_SQL = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey, MIN(unit_price) AS best_price FROM offers GROUP BY l_partkey
)
SELECT p_partkey, p_name, s_suppkey, s_name, unit_price AS best_price
FROM offers
JOIN best ON offers.l_partkey = best.l_partkey AND unit_price = best_price
JOIN part ON p_partkey = offers.l_partkey
JOIN supplier ON s_suppkey = offers.l_suppkey
WHERE p_brand = 'Brand#5'
ORDER BY p_partkey, s_suppkey
"""


# --------------------------------------------------------------------------
# q7 shape — volume shipping between two nations, by direction and
# ship year.  Nation dim joined twice (supplier side and customer
# side), both broadcast.
# --------------------------------------------------------------------------


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(_revenue(), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
  CAST(SUM(CAST(volume AS DECIMAL(24,6))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --------------------------------------------------------------------------
# q9 shape — product-type profit by supplier nation and order year.
# ps_supplycost is absent, so profit = discounted revenue; the shape
# (part-name LIKE filter, 5-way join, nation×year agg) is preserved.
# --------------------------------------------------------------------------


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(_revenue(), "profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
    AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# q11 shape — important parts by traded value share (scalar-subquery
# threshold in HAVING).  partsupp value is adapted to traded
# lineitem value per part.
# --------------------------------------------------------------------------


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r9-opt (guide §2.4): pv feeds the grand total and the threshold
    # filter; unstaged, the lineitem rollup re-ran per consumer (2
    # duplicate scans).
    pv = _stage(
        li.groupBy("l_partkey").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(24,6)")).alias("_v")
        )
    )
    total = pv.agg(F.sum("_v").cast("double").alias("_total"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("_v").cast("double") > 0.0006 * F.col("_total"))
        .select(
            "l_partkey", F.col("_v").cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_SQL = """
WITH pv AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS v
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
FROM pv
WHERE CAST(v AS DOUBLE) > 0.0006 * (SELECT CAST(SUM(v) AS DOUBLE) FROM pv)
ORDER BY part_value DESC, l_partkey
"""


# --------------------------------------------------------------------------
# q12 shape — shipping-speed classes vs order priority.  l_shipmode is
# absent; the class is derived from the ship delay (l_shipdate −
# o_orderdate), preserving the CASE-bucket + priority-split agg shape.
# --------------------------------------------------------------------------


def q12_ship_speed_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    speed = (
        F.when(delay > 90, "SLOW").when(delay > 30, "NORMAL").otherwise("FAST")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(speed.alias("ship_speed"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_speed")
    )


Q12_SQL = """
SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90 THEN 'SLOW'
            WHEN datediff('day', o_orderdate, l_shipdate) > 30 THEN 'NORMAL'
            ELSE 'FAST' END AS ship_speed,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY ship_speed
"""


# --------------------------------------------------------------------------
# q13 shape — customer distribution by order count (left outer join +
# double aggregation).
# --------------------------------------------------------------------------


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "F"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'F'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------------------
# q14 shape — promo revenue share in one month (conditional agg over a
# join; p_type = 'PROMO' is a direct stand-in for LIKE 'PROMO%').
# --------------------------------------------------------------------------


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01")))
    )
    part = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _revenue())
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(dsum(promo, "promo_revenue"), dsum(_revenue(), "total_revenue"))
        .withColumn(
            "promo_share",
            F.round(100.0 * F.col("promo_revenue") / F.col("total_revenue"), 6),
        )
    )


Q14_SQL = """
SELECT
  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
       THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(24,6)))
    AS DOUBLE) AS promo_revenue,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
    AS DOUBLE) AS total_revenue,
  ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
       THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(24,6))) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
      AS DOUBLE), 6) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


# --------------------------------------------------------------------------
# q16 shape — supplier count per (brand, type, size) with a NOT-IN
# exclusion list.  partsupp is adapted to observed (part, supplier)
# pairs from lineitem; the complaint filter becomes s_acctbal < 0.
# Scale: the exclusion list is tiny → broadcast anti join; the
# count-distinct shuffles on the 3 group keys only.
# --------------------------------------------------------------------------


def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(
            bad_supp,
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# q20 shape — dominant suppliers of gear parts in 1997: suppliers whose
# shipped quantity of a part exceeds 30% of that part's total (the
# canonical availqty > 0.5*shipped becomes share-of-shipped, same
# nested agg + semi-join chain).
# --------------------------------------------------------------------------


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf_dir, "supplier")
    gear = li.join(part, li.l_partkey == part.p_partkey)
    # r9-opt (guide §2.3/§2.4): keep the per-(part, supplier) sum in
    # EXACT decimal and derive the per-part total from that staged
    # rollup — decimal sums are associative, so sum-of-group-sums cast
    # to double is bit-identical to the direct sum, while the second
    # lineitem-scale scan+aggregation collapses to a rollup over the
    # (part, supplier) cells (the a_bh_fdr r8 pattern).  Unstaged, the
    # gear join ran twice (2 duplicate lineitem/part scans).
    shipped_dec = _stage(
        gear.groupBy("l_partkey", "l_suppkey").agg(
            F.sum(F.col("l_quantity").cast("decimal(24,6)")).alias("_qd")
        )
    )
    shipped = shipped_dec.select(
        "l_partkey", "l_suppkey", F.col("_qd").cast("double").alias("qty")
    )
    totals = shipped_dec.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("_qd").cast("double").alias("total_qty")
    )
    dominant = (
        shipped.join(totals, shipped.l_partkey == totals.t_partkey)
        .filter(F.col("qty") > 0.3 * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
WITH gear AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%gear%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
),
shipped AS (
  SELECT l_partkey, l_suppkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS qty
  FROM gear GROUP BY l_partkey, l_suppkey
),
totals AS (
  SELECT l_partkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS total_qty
  FROM gear GROUP BY l_partkey
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM shipped JOIN totals USING (l_partkey)
  WHERE qty > 0.3 * total_qty
)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# q21 shape — suppliers who alone delayed a multi-supplier order.
# l_receiptdate/l_commitdate are absent; "late" = shipped >100 days
# after the order date.  The EXISTS (another supplier) / NOT EXISTS
# (another *late* supplier) pair is expressed as per-order distinct
# counts joined back — one extra shuffle on o_orderkey instead of two
# correlated subquery scans.
# --------------------------------------------------------------------------


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    # r9-opt (guide §2.4): the joined frame feeds both the per-order
    # stats and the join-back; unstaged, the lineitem⋈orders join ran
    # twice (2 duplicate scans of each table).  Staged projection of
    # exactly the three columns both consumers read — values unchanged.
    joined = _stage(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn(
            "is_late",
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS"),
        )
        .select("l_orderkey", "l_suppkey", "is_late")
    )
    stats = joined.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    return (
        joined.join(stats, joined.l_orderkey == stats.ok)
        .filter(
            F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
        )
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(25)
    )


Q21_SQL = """
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 100 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 100 DAY
  )
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 25
"""


SPECS = [
    QuerySpec("q2_min_cost_supplier", q2_min_cost_supplier, Q2_SQL,
              doc="per-part MIN join-back (correlated min subquery)",
              tags=("join",)),
    QuerySpec("q7_volume_shipping", q7_volume_shipping, Q7_SQL,
              doc="self-aliased dim join (nation×2) + year agg",
              tags=("join",)),
    QuerySpec("q9_product_profit", q9_product_profit, Q9_SQL,
              doc="5-way join, LIKE filter, nation×year agg",
              tags=("join",)),
    QuerySpec("q11_important_parts", q11_important_parts, Q11_SQL,
              doc="scalar-subquery share threshold (HAVING)",
              tags=("agg",)),
    QuerySpec("q12_ship_speed_priority", q12_ship_speed_priority, Q12_SQL,
              doc="derived CASE buckets + conditional counts",
              tags=("agg",)),
    QuerySpec("q13_customer_distribution", q13_customer_distribution, Q13_SQL,
              doc="left join + double aggregation histogram",
              tags=("join",)),
    QuerySpec("q14_promo_share", q14_promo_share, Q14_SQL,
              doc="conditional revenue share over a join",
              tags=("agg",)),
    QuerySpec("q16_supplier_part_types", q16_supplier_part_types, Q16_SQL,
              doc="count-distinct + NOT IN (broadcast anti join)",
              tags=("join",)),
    QuerySpec("q20_dominant_suppliers", q20_dominant_suppliers, Q20_SQL,
              doc="nested agg share filter + semi join chain",
              tags=("join",)),
    QuerySpec("q21_waiting_suppliers", q21_waiting_suppliers, Q21_SQL,
              doc="EXISTS / NOT EXISTS via per-group distinct counts",
              tags=("join",)),
]
