"""Fifty-seventh wave: price indices, tier migration, and Markov
entropy rate.

Reference parity note: economics + BI + information-theory
extensions; every query carries an exact DuckDB oracle.

- **Price indices** (`a_price_indices`) — Laspeyres and Paasche
  indices of average part prices between the 1996 and 1997 order
  baskets (quantity-weighted, exact decimal sums; the index ratio
  is the only float step).  Parts must trade in both years to
  enter the basket.
- **Tier migration** (`q_tier_migration`) — the customer-value flow
  matrix: spend quartile in the early era (< 1998) vs the late era
  (>= 1998), counting customers per (from_tier, to_tier) cell —
  the BI "migration heatmap" behind churn narratives.  Customers
  active in only one era land in tier 0 of the other.
- **Markov entropy rate** (`a_markov_entropy_rate`) — the
  information rate of the per-user event-type chain:
  -sum_i pi_i sum_j P_ij ln P_ij with empirical state frequencies
  as pi, from one transition-count aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import global_ntile
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_price_indices
# ------------------------------------------------------------------ #


def a_price_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres and Paasche indices, 1997 vs base 1996, over parts
    traded in both years."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(
        orders.select("o_orderkey", F.year("o_orderdate").alias("yr")),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(F.col("yr").isin(1996, 1997))
    # r9-opt (guide §2.4): per feeds the base-year and current-year
    # legs; unstaged, the lineitem⋈orders join re-ran per consumer
    # (2 duplicate scans).
    per = _stage(j.groupBy("l_partkey", "yr").agg(
        F.sum(F.col("l_quantity").cast("decimal(27,2)")).alias("q"),
        F.sum(F.col("l_extendedprice").cast("decimal(27,2)")).alias("v"),
    ).select(
        "l_partkey",
        "yr",
        "q",
        (F.col("v") / F.col("q")).cast("double").alias("p"),
        F.col("q").cast("double").alias("qd"),
    ))
    base = per.filter(F.col("yr") == 1996).select(
        "l_partkey",
        F.col("p").alias("p0"),
        F.col("qd").alias("q0"),
    )
    curr = per.filter(F.col("yr") == 1997).select(
        "l_partkey",
        F.col("p").alias("p1"),
        F.col("qd").alias("q1"),
    )
    both = base.join(curr, "l_partkey")
    sums = both.agg(
        F.count("*").alias("n_parts"),
        F.sum((F.col("p1") * F.col("q0")).cast("decimal(38,10)")).alias(
            "p1q0"
        ),
        F.sum((F.col("p0") * F.col("q0")).cast("decimal(38,10)")).alias(
            "p0q0"
        ),
        F.sum((F.col("p1") * F.col("q1")).cast("decimal(38,10)")).alias(
            "p1q1"
        ),
        F.sum((F.col("p0") * F.col("q1")).cast("decimal(38,10)")).alias(
            "p0q1"
        ),
    )
    return sums.select(
        F.col("n_parts").cast("long").alias("n_parts"),
        F.round(
            (F.col("p1q0") / F.col("p0q0")).cast("double"), 6
        ).alias("laspeyres"),
        F.round(
            (F.col("p1q1") / F.col("p0q1")).cast("double"), 6
        ).alias("paasche"),
    )


A_PRICEIDX_SQL = """
WITH j AS (
  SELECT l_partkey, l_quantity, l_extendedprice,
    year(o_orderdate) AS yr
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN (1996, 1997)
),
per AS (
  SELECT l_partkey, yr,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2)))
         / SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS p,
    CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS qd
  FROM j GROUP BY 1, 2
),
paired AS (
  SELECT b.l_partkey, b.p AS p0, b.qd AS q0, c.p AS p1, c.qd AS q1
  FROM (SELECT * FROM per WHERE yr = 1996) b
  JOIN (SELECT * FROM per WHERE yr = 1997) c USING (l_partkey)
),
sums AS (
  SELECT COUNT(*) AS n_parts,
    SUM(CAST(p1 * q0 AS DECIMAL(38,10))) AS p1q0,
    SUM(CAST(p0 * q0 AS DECIMAL(38,10))) AS p0q0,
    SUM(CAST(p1 * q1 AS DECIMAL(38,10))) AS p1q1,
    SUM(CAST(p0 * q1 AS DECIMAL(38,10))) AS p0q1
  FROM paired
)
SELECT CAST(n_parts AS BIGINT) AS n_parts,
  ROUND(CAST(p1q0 / p0q0 AS DOUBLE), 6) AS laspeyres,
  ROUND(CAST(p1q1 / p0q1 AS DOUBLE), 6) AS paasche
FROM sums
"""


# ------------------------------------------------------------------ #
# q_tier_migration
# ------------------------------------------------------------------ #


def q_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-quartile migration matrix between the early (< 1998)
    and late (>= 1998) order eras; tier 0 = inactive in that era."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.year("o_orderdate") < 1998,
                F.col("o_totalprice").cast("decimal(27,2)"),
            )
        ).alias("early"),
        F.sum(
            F.when(
                F.year("o_orderdate") >= 1998,
                F.col("o_totalprice").cast("decimal(27,2)"),
            )
        ).alias("late"),
    )
    # ntile only over rows active in that era; inactive -> tier 0
    # per-customer quartiles are unbounded at scale: distributed
    # range-partitioned ntile, not single-partition window sorts
    active_e = global_ntile(
        spend.filter(F.col("early").isNotNull()),
        [F.col("early").asc(), F.col("o_custkey").asc()],
        4,
        out="from_tier",
    ).select("o_custkey", "from_tier")
    active_l = global_ntile(
        spend.filter(F.col("late").isNotNull()),
        [F.col("late").asc(), F.col("o_custkey").asc()],
        4,
        out="to_tier",
    ).select("o_custkey", "to_tier")
    merged = (
        spend.select("o_custkey")
        .join(active_e, "o_custkey", "left")
        .join(active_l, "o_custkey", "left")
        .select(
            F.coalesce("from_tier", F.lit(0)).alias("from_tier"),
            F.coalesce("to_tier", F.lit(0)).alias("to_tier"),
        )
    )
    return (
        merged.groupBy("from_tier", "to_tier")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("from_tier", "to_tier")
    )


Q_TIERMIG_SQL = """
WITH spend AS (
  SELECT o_custkey,
    SUM(CASE WHEN year(o_orderdate) < 1998
        THEN CAST(o_totalprice AS DECIMAL(27,2)) END) AS early,
    SUM(CASE WHEN year(o_orderdate) >= 1998
        THEN CAST(o_totalprice AS DECIMAL(27,2)) END) AS late
  FROM orders GROUP BY o_custkey
),
active_e AS (
  SELECT o_custkey,
    NTILE(4) OVER (ORDER BY early, o_custkey) AS from_tier
  FROM spend WHERE early IS NOT NULL
),
active_l AS (
  SELECT o_custkey,
    NTILE(4) OVER (ORDER BY late, o_custkey) AS to_tier
  FROM spend WHERE late IS NOT NULL
)
SELECT COALESCE(from_tier, 0) AS from_tier,
  COALESCE(to_tier, 0) AS to_tier,
  CAST(COUNT(*) AS BIGINT) AS n_customers
FROM spend
LEFT JOIN active_e USING (o_custkey)
LEFT JOIN active_l USING (o_custkey)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------------------------ #
# a_markov_entropy_rate
# ------------------------------------------------------------------ #


def a_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type transition chain with
    empirical state frequencies as the stationary proxy."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # r9-opt (guide §2.4): trans feeds the row totals and the term
    # join; unstaged, the events scan + lag window re-ran per
    # consumer (2 duplicate scans).  |event_type|²-row staged frame.
    trans = _stage(
        ev.select(
            "user_id",
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .groupBy("s", "t")
        .agg(F.count("*").alias("c"))
    )
    row_tot = trans.groupBy("s").agg(F.sum("c").alias("cs"))
    grand = row_tot.agg(F.sum("cs").alias("N"))
    terms = (
        trans.join(F.broadcast(row_tot), "s")
        .crossJoin(F.broadcast(grand))
        .select(
            (
                -(
                    F.col("cs").cast("double") / F.col("N")
                )
                * (F.col("c").cast("double") / F.col("cs"))
                * F.log(F.col("c").cast("double") / F.col("cs"))
            ).cast("decimal(27,12)").alias("term")
        )
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_transitions_kinds"),
        F.round(
            F.sum("term").cast("double"), 6
        ).alias("entropy_rate_nats"),
    )


A_ENTROPY_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS s,
    LEAD(event_type) OVER (PARTITION BY user_id
      ORDER BY ts, event_id) AS t
  FROM events
),
trans AS (
  SELECT s, t, COUNT(*) AS c FROM seq WHERE t IS NOT NULL
  GROUP BY s, t
),
row_tot AS (SELECT s, SUM(c) AS cs FROM trans GROUP BY s),
grand AS (SELECT SUM(cs) AS N FROM row_tot),
terms AS (
  SELECT CAST(
    -(CAST(cs AS DOUBLE) / N)
      * (CAST(c AS DOUBLE) / cs)
      * ln(CAST(c AS DOUBLE) / cs)
    AS DECIMAL(27,12)) AS term
  FROM trans JOIN row_tot USING (s) CROSS JOIN grand
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_transitions_kinds,
  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS entropy_rate_nats
FROM terms
"""


SPECS = [
    QuerySpec(
        "a_price_indices",
        a_price_indices,
        A_PRICEIDX_SQL,
        doc="Laspeyres + Paasche part-price indices, 1997 vs 1996",
        tags=("bi", "economics"),
    ),
    QuerySpec(
        "q_tier_migration",
        q_tier_migration,
        Q_TIERMIG_SQL,
        doc="spend-quartile migration matrix, early vs late era",
        tags=("bi", "events"),
    ),
    QuerySpec(
        "a_markov_entropy_rate",
        a_markov_entropy_rate,
        A_ENTROPY_SQL,
        doc="entropy rate of the event-type transition chain",
        tags=("stats", "events"),
    ),
]
