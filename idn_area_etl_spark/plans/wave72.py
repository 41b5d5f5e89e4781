"""Seventy-second wave: attach-rate lift, empirical-Bayes shrinkage,
and lognormal length fits.

Reference parity note: merchandising + small-sample ranking + corpus
distribution fitting; every query carries an exact DuckDB oracle.

- **Attach-rate lift** (`q_attach_rate_lift`) — merchandising's
  with/without contrast: for each focus part (< 20), the share of
  orders containing it (attach rate) and the mean order total WITH
  the part vs WITHOUT it; lift = ratio of the two means.  One
  semi-join flag per order — the part filter never re-scans
  lineitem per part (a single exploded flag pass).
- **EB shrinkage** (`a_eb_shrinkage`) — beta-binomial moment-matched
  shrinkage of per-nation purchase-heavy-user rates: the prior
  (alpha, beta) comes from the across-nation mean/variance of raw
  rates, and each nation's shrunk rate is (k + alpha)/(n + alpha +
  beta) — the ranking fix for small-sample leaderboards.
- **Lognormal fit** (`d_lognormal_fit`) — per-language lognormal
  parameters of document length (mu, sigma of ln length via exact
  decimal sums) plus the implied median exp(mu); the standard
  length prior for corpus simulators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# q_attach_rate_lift
# ------------------------------------------------------------------ #


def q_attach_rate_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach rate + order-total lift for focus parts (< 20)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    focus = (
        li.filter(F.col("l_partkey") < 20)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # r9: measured and deliberately NOT staged — both consumers read
    # the same 2-column pruned scan; staging the projection benched
    # 1.24× slower at sf0.1 (0.44 → 0.54 s) and a materialized copy
    # writes as many bytes as the duplicate scan reads at scale.
    totals = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(27,2)").alias("amt"),
    )
    grand = totals.agg(
        F.count("*").alias("n_orders"),
        F.sum("amt").alias("amt_all"),
    )
    withp = (
        focus.join(
            totals, focus.l_orderkey == totals.o_orderkey
        )
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_with"),
            F.sum("amt").alias("amt_with"),
        )
    )
    return (
        withp.crossJoin(F.broadcast(grand))
        .select(
            F.col("l_partkey").alias("part"),
            "n_with",
            F.round(
                F.col("n_with").cast("double") / F.col("n_orders"), 6
            ).alias("attach_rate"),
            F.round(
                (F.col("amt_with").cast("double") / F.col("n_with"))
                / (
                    (F.col("amt_all") - F.col("amt_with")).cast("double")
                    / (F.col("n_orders") - F.col("n_with"))
                ),
                6,
            ).alias("order_value_lift"),
        )
        .orderBy("part")
    )


Q_ATTACH_SQL = """
WITH focus AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey < 20
),
totals AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(27,2)) AS amt
  FROM orders
),
grand AS (
  SELECT COUNT(*) AS n_orders, SUM(amt) AS amt_all FROM totals
),
withp AS (
  SELECT l_partkey, COUNT(*) AS n_with, SUM(amt) AS amt_with
  FROM focus JOIN totals ON l_orderkey = o_orderkey
  GROUP BY l_partkey
)
SELECT l_partkey AS part, CAST(n_with AS BIGINT) AS n_with,
  ROUND(CAST(n_with AS DOUBLE) / n_orders, 6) AS attach_rate,
  ROUND((CAST(amt_with AS DOUBLE) / n_with)
    / (CAST(amt_all - amt_with AS DOUBLE) / (n_orders - n_with)), 6)
    AS order_value_lift
FROM withp CROSS JOIN grand
ORDER BY part
"""


# ------------------------------------------------------------------ #
# a_eb_shrinkage
# ------------------------------------------------------------------ #


def a_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial EB shrinkage of per-nation purchase-heavy
    customer rates (outcome: user's order count above the nation-free
    global median proxy of 3+ orders)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_ord")
    )
    flagged = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(
        "c_nationkey",
        (F.coalesce("n_ord", F.lit(0)) >= 3).cast("long").alias("y"),
    )
    cells = flagged.groupBy("c_nationkey").agg(
        F.count("*").alias("n"), F.sum("y").alias("k")
    )
    # r9-opt (guide §2.4): rates feeds both the prior fit and the
    # final shrinkage select; unstaged, the whole orders⋈customer
    # rollup re-ran per consumer (2 duplicate scans).  25-row staged
    # frame — values unchanged.
    rates = _stage(
        cells.select(
            "c_nationkey",
            "n",
            "k",
            (F.col("k").cast("double") / F.col("n")).alias("r"),
        )
    )
    prior = rates.agg(
        F.count("*").alias("g"),
        F.sum(F.col("r").cast("decimal(20,12)")).alias("sr"),
        F.sum(
            (F.col("r") * F.col("r")).cast("decimal(20,12)")
        ).alias("srr"),
    ).select(
        (F.col("sr") / F.col("g")).cast("double").alias("m"),
        (
            (F.col("srr") / F.col("g")).cast("double")
            - ((F.col("sr") / F.col("g")).cast("double"))
            * ((F.col("sr") / F.col("g")).cast("double"))
        ).alias("v"),
    ).select(
        "m",
        "v",
        (F.col("m") * (1.0 - F.col("m")) / F.col("v") - 1.0).alias(
            "nu"
        ),
    ).select(
        (F.col("m") * F.col("nu")).alias("alpha"),
        ((1.0 - F.col("m")) * F.col("nu")).alias("beta"),
    )
    return (
        rates.crossJoin(F.broadcast(prior))
        .select(
            "c_nationkey",
            "n",
            F.round("r", 6).alias("raw_rate"),
            F.round(
                (F.col("k") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunk_rate"),
        )
        .orderBy("c_nationkey")
    )


A_EB_SQL = """
WITH per_cust AS (
  SELECT o_custkey, COUNT(*) AS n_ord FROM orders GROUP BY o_custkey
),
flagged AS (
  SELECT c_nationkey,
    CASE WHEN COALESCE(n_ord, 0) >= 3 THEN 1 ELSE 0 END AS y
  FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
),
cells AS (
  SELECT c_nationkey, COUNT(*) AS n, SUM(y) AS k
  FROM flagged GROUP BY c_nationkey
),
rates AS (
  SELECT c_nationkey, n, k, CAST(k AS DOUBLE) / n AS r FROM cells
),
prior AS (
  SELECT
    (CAST(sr / g AS DOUBLE)) * nu AS alpha,
    (1.0 - CAST(sr / g AS DOUBLE)) * nu AS beta
  FROM (
    SELECT g, sr,
      CAST(sr / g AS DOUBLE) * (1.0 - CAST(sr / g AS DOUBLE))
        / (CAST(srr / g AS DOUBLE)
           - CAST(sr / g AS DOUBLE) * CAST(sr / g AS DOUBLE)) - 1.0
        AS nu
    FROM (
      SELECT COUNT(*) AS g,
        SUM(CAST(r AS DECIMAL(20,12))) AS sr,
        SUM(CAST(r * r AS DECIMAL(20,12))) AS srr
      FROM rates
    )
  )
)
SELECT c_nationkey, CAST(n AS BIGINT) AS n,
  ROUND(r, 6) AS raw_rate,
  ROUND((k + alpha) / (n + alpha + beta), 6) AS shrunk_rate
FROM rates CROSS JOIN prior
ORDER BY c_nationkey
"""


# ------------------------------------------------------------------ #
# d_lognormal_fit
# ------------------------------------------------------------------ #


def d_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lognormal (mu, sigma) of document length plus the
    implied median."""
    docs = load_table(spark, sf_dir, "documents")
    logs = docs.select(
        "lang", F.log(F.length("text").cast("double")).alias("lx")
    )
    stats = logs.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(F.col("lx").cast("decimal(27,12)")).alias("s"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(38,12)")).alias(
            "ss"
        ),
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double") * mu
    ) / (F.col("n") - 1)
    return stats.select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.round(mu, 6).alias("mu"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.round(F.exp(mu), 6).alias("median_len"),
    ).orderBy("lang")


D_LOGNORM_SQL = """
WITH logs AS (
  SELECT lang, ln(CAST(length(text) AS DOUBLE)) AS lx FROM documents
),
stats AS (
  SELECT lang, COUNT(*) AS n,
    SUM(CAST(lx AS DECIMAL(27,12))) AS s,
    SUM(CAST(lx * lx AS DECIMAL(38,12))) AS ss
  FROM logs GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
  ROUND(CAST(s AS DOUBLE) / n, 6) AS mu,
  ROUND(sqrt((CAST(ss AS DOUBLE)
      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)) / (n - 1)), 6)
    AS sigma,
  ROUND(exp(CAST(s AS DOUBLE) / n), 6) AS median_len
FROM stats ORDER BY lang
"""


SPECS = [
    QuerySpec(
        "q_attach_rate_lift",
        q_attach_rate_lift,
        Q_ATTACH_SQL,
        doc="attach rate + order-value lift for focus parts",
        tags=("bi", "merchandising"),
    ),
    QuerySpec(
        "a_eb_shrinkage",
        a_eb_shrinkage,
        A_EB_SQL,
        doc="beta-binomial EB shrinkage of per-nation rates",
        tags=("stats",),
    ),
    QuerySpec(
        "d_lognormal_fit",
        d_lognormal_fit,
        D_LOGNORM_SQL,
        doc="per-language lognormal length fit (mu, sigma, median)",
        tags=("text", "stats"),
    ),
]
