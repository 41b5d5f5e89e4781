"""Seventy-fifth wave: BH false-discovery control, source evenness,
and value-range window frames.

Reference parity note: multiple-testing control + diversity metrics +
RANGE-frame window coverage; every query carries an exact DuckDB
oracle.

- **BH FDR** (`a_bh_fdr`) — Benjamini-Hochberg at q = 0.10 over the
  25 per-nation z-tests of mean balance vs the grand mean: |z|
  values rank DESC against precomputed normal-quantile thresholds
  (the i/m * q two-sided cutoffs as literals — no CDF at query
  time), and the BH rule marks every rank up to the largest passing
  one.  The leaderboard-scan discipline for mass significance
  testing.
- **Source evenness** (`d_source_evenness`) — Pielou's J
  (entropy / ln k) of each source's language mix: 1 = perfectly
  even, 0 = single-language source.  The mixture-balance check per
  provenance shard.
- **Price-range frame** (`w_price_range_frame`) — the RANGE-frame
  window (value offsets, not row offsets): for orders of one
  priority slice, how many same-priority orders fall within
  +/-1000 of each order's total (rangeBetween on the numeric sort
  key).  Demonstrates the value-window feature the row-frame
  queries can't express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

#: two-sided normal quantiles for p = (i/25) * 0.10, i = 1..25
#: (statistics.NormalDist().inv_cdf(1 - p/2), precomputed)
_BH_Z = (
    2.878162, 2.65207, 2.512144, 2.408916, 2.326348, 2.257129,
    2.197286, 2.144411, 2.096927, 2.053749, 2.014091, 1.977368,
    1.943134, 1.911036, 1.880794, 1.85218, 1.825007, 1.799118,
    1.774382, 1.750686, 1.727934, 1.706043, 1.684941, 1.664563,
    1.644854,
)


# ------------------------------------------------------------------ #
# a_bh_fdr
# ------------------------------------------------------------------ #


def a_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH(q=0.10) discoveries among per-nation mean-balance z-tests."""
    cust = load_table(spark, sf_dir, "customer")
    # r8-opt: the global moments now roll up FROM the staged 25-row
    # per-nation cells instead of a second full customer scan
    # (4 scans / 22 exchange refs in the captured plan -> 1 scan).
    # Exactness: per-nation decimal sums re-summed over nations equal
    # the direct global decimal sums (decimal addition is exact and
    # the accumulator types are unchanged), and count partitions over
    # nations sum to the global count (guide §2.4).
    cells = _stage(
        cust.groupBy("c_nationkey").agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(27,6)")).alias("s"),
            F.sum(
                (F.col("c_acctbal") * F.col("c_acctbal")).cast(
                    "decimal(38,10)"
                )
            ).alias("ss"),
        )
    )
    glob = cells.agg(
        F.sum("n").alias("gn"),
        F.sum("s").alias("gsum"),
        F.sum("ss").alias("gss"),
    ).select(
        "gn",
        F.col("gsum").cast("double").alias("gsum"),
        F.col("gss").cast("double").alias("gss"),
    )
    gm = F.col("gsum") / F.col("gn")
    gvar = (F.col("gss") - F.col("gsum") * gm) / (F.col("gn") - 1)
    z = (
        (F.col("s").cast("double") / F.col("n") - gm)
        / F.sqrt(gvar / F.col("n"))
    )
    zcol = F.abs(F.round(z, 6))
    ranked = (
        cells.crossJoin(F.broadcast(glob))
        .select("c_nationkey", zcol.alias("abs_z"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("abs_z"), "c_nationkey")
            ),
        )
    )
    thresh = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(_BH_Z)], "rnk int, zt double"
    )
    passed = ranked.join(F.broadcast(thresh), "rnk").withColumn(
        "passes", (F.col("abs_z") >= F.col("zt")).cast("int")
    )
    cutoff = passed.agg(
        F.max(F.when(F.col("passes") == 1, F.col("rnk"))).alias("kmax")
    )
    return (
        passed.crossJoin(F.broadcast(cutoff))
        .select(
            "c_nationkey",
            "abs_z",
            F.col("rnk").cast("int").alias("rnk"),
            (
                F.col("rnk") <= F.coalesce(F.col("kmax"), F.lit(0))
            ).alias("discovery"),
        )
        .orderBy("rnk")
    )


def _bh_sql() -> str:
    vals = ", ".join(
        f"({i + 1}, {t!r})" for i, t in enumerate(_BH_Z)
    )
    return f"""
WITH cells AS (
  SELECT c_nationkey, COUNT(*) AS n,
    SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS s
  FROM customer GROUP BY c_nationkey
),
gstats AS (
  SELECT COUNT(*) AS gn,
    CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS gsum,
    CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,10)))
         AS DOUBLE) AS gss
  FROM customer
),
ranked AS (
  SELECT c_nationkey,
    ABS(ROUND((CAST(s AS DOUBLE) / n - gsum / gn)
      / sqrt(((gss - gsum * (gsum / gn)) / (gn - 1)) / n), 6))
      AS abs_z,
    ROW_NUMBER() OVER (ORDER BY
      ABS(ROUND((CAST(s AS DOUBLE) / n - gsum / gn)
        / sqrt(((gss - gsum * (gsum / gn)) / (gn - 1)) / n), 6))
      DESC, c_nationkey) AS rnk
  FROM cells CROSS JOIN gstats
),
thresh(rnk, zt) AS (VALUES {vals}),
passed AS (
  SELECT ranked.*, CASE WHEN abs_z >= zt THEN 1 ELSE 0 END AS passes
  FROM ranked JOIN thresh USING (rnk)
),
cutoff AS (
  SELECT MAX(CASE WHEN passes = 1 THEN rnk END) AS kmax FROM passed
)
SELECT c_nationkey, abs_z, CAST(rnk AS INT) AS rnk,
  (rnk <= COALESCE(kmax, 0)) AS discovery
FROM passed CROSS JOIN cutoff
ORDER BY rnk
"""


# ------------------------------------------------------------------ #
# d_source_evenness
# ------------------------------------------------------------------ #


def d_source_evenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pielou evenness of the language mix within each source."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count("*").alias("c")
    )
    tot = cells.groupBy("source").agg(
        F.sum("c").alias("n"), F.count("*").alias("k")
    )
    ent = (
        cells.join(tot, "source")
        .select(
            "source",
            "n",
            "k",
            (
                -(F.col("c").cast("double") / F.col("n"))
                * F.log(F.col("c").cast("double") / F.col("n"))
            ).cast("decimal(27,12)").alias("h"),
        )
        .groupBy("source", "n", "k")
        .agg(F.sum("h").cast("double").alias("H"))
    )
    return ent.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round(
            F.when(F.col("k") > 1, F.col("H") / F.log(F.col("k").cast("double")))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("evenness"),
    ).orderBy("source")


D_EVEN_SQL = """
WITH cells AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT source, SUM(c) AS n, COUNT(*) AS k FROM cells GROUP BY source
),
ent AS (
  SELECT cells.source, n, k,
    CAST(SUM(CAST(-(CAST(c AS DOUBLE) / n)
        * ln(CAST(c AS DOUBLE) / n) AS DECIMAL(27,12))) AS DOUBLE)
      AS H
  FROM cells JOIN tot ON cells.source = tot.source
  GROUP BY cells.source, n, k
)
SELECT source, CAST(n AS BIGINT) AS n_docs,
  ROUND(CASE WHEN k > 1 THEN H / ln(CAST(k AS DOUBLE))
        ELSE 0.0 END, 6) AS evenness
FROM ent ORDER BY source
"""


# ------------------------------------------------------------------ #
# w_price_range_frame
# ------------------------------------------------------------------ #


def w_price_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: same-priority orders within +/-1000 of
    each order's total (first 20 orders by key of priority '1-URGENT')."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    # only 20 probe rows are reported: take them with TakeOrdered
    # (scalable per-partition top-k + merge), broadcast them, and
    # count the +/-1000 band with one broadcast range join — the full
    # RANGE-frame window would sort every urgent order on one task
    probes = urgent.orderBy("o_orderkey").limit(20)
    counts = (
        F.broadcast(
            probes.select(
                F.col("o_orderkey").alias("p_key"),
                F.col("price").alias("p_price"),
            )
        )
        .join(
            urgent.select(F.col("price").alias("c_price")),
            (F.col("c_price") >= F.col("p_price") - 1000)
            & (F.col("c_price") <= F.col("p_price") + 1000),
        )
        .groupBy("p_key", "p_price")
        .agg(F.count("*").alias("n_within_1000"))
    )
    return counts.select(
        F.col("p_key").alias("o_orderkey"),
        F.round("p_price", 2).alias("price"),
        F.col("n_within_1000").cast("long").alias("n_within_1000"),
    ).orderBy("o_orderkey")


W_RANGE_SQL = """
WITH urgent AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
framed AS (
  SELECT o_orderkey, ROUND(price, 2) AS price,
    CAST(COUNT(*) OVER (ORDER BY price
      RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT)
      AS n_within_1000
  FROM urgent
)
SELECT * FROM framed ORDER BY o_orderkey LIMIT 20
"""


SPECS = [
    QuerySpec(
        "a_bh_fdr",
        a_bh_fdr,
        _bh_sql(),
        doc="Benjamini-Hochberg q=0.10 over per-nation z-tests",
        tags=("stats", "experimentation"),
    ),
    QuerySpec(
        "d_source_evenness",
        d_source_evenness,
        D_EVEN_SQL,
        doc="Pielou evenness of each source's language mix",
        tags=("text", "dataset-prep"),
    ),
    QuerySpec(
        "w_price_range_frame",
        w_price_range_frame,
        W_RANGE_SQL,
        doc="value-RANGE window frame: orders within +/-1000 of own total",
        tags=("window",),
    ),
]
