"""Sixty-second wave: Horvitz-Thompson estimation, progressive
bracket fees, and triplet violations.

Reference parity note: sampling-theory + finance-rules + metric-
learning-eval extensions; every query carries an exact DuckDB oracle.

- **Horvitz-Thompson** (`a_horvitz_thompson`) — unequal-probability
  sampling done right: each order is included with probability
  proportional to its own total (capped at 1), decided by a
  deterministic md5 uniform; the HT estimator sums y_i / p_i over
  the sample and is compared against the checkable true total.
  The pi-weights need one broadcast scalar (the grand total).
- **Progressive fees** (`q_progressive_fees`) — the tax-bracket
  pattern: a literal rate schedule folded into codegen, each
  order's fee = sum over brackets of rate x overlap(total,
  bracket), rolled up per priority in exact integer cents.
- **Triplet violations** (`e_triplet_violations`) — metric-learning
  sanity: for each anchor (vec_id < 30), pos = lowest-id other
  vector of the SAME label, neg = lowest-id vector of a DIFFERENT
  label; a violation is cos(anchor, neg) >= cos(anchor, pos).
  Reports the violation rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.similarity import (
    as_double_vec,
    dot_expr,
    norm_expr,
)
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

#: progressive fee schedule: (lower bound, rate in basis points)
_BRACKETS = ((0, 100), (100_000, 250), (200_000, 400))


# ------------------------------------------------------------------ #
# a_horvitz_thompson
# ------------------------------------------------------------------ #


def a_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HT estimate of total order value from a PPS md5 sample
    (expected sample size ~ 500), vs the checkable truth."""
    # r9: measured and deliberately NOT staged — both consumers read
    # the same 2-column pruned scan; staging benched 1.15× slower at
    # sf0.1 (0.41 → 0.47 s) and is storage-neutral at cluster scale.
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    tot = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
        .cast("double")
        .alias("grand")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ht:"), F.col("o_orderkey").cast("string")
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
    flagged = orders.crossJoin(F.broadcast(tot)).select(
        F.col("o_totalprice").cast("double").alias("y"),
        F.least(
            F.lit(1.0),
            F.lit(500.0) * F.col("o_totalprice") / F.col("grand"),
        ).alias("p"),
        u.alias("u"),
        F.col("grand"),
    )
    sampled = flagged.select(
        "grand",
        F.when(F.col("u") < F.col("p"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("inc"),
        (F.col("y") / F.col("p")).alias("ht_term"),
    )
    return sampled.agg(
        F.sum("inc").cast("long").alias("n_sampled"),
        F.round(
            F.sum(
                F.when(F.col("inc") == 1, F.col("ht_term")).cast(
                    "decimal(38,10)"
                )
            ).cast("double"),
            2,
        ).alias("ht_estimate"),
        F.round(F.max("grand"), 2).alias("true_total"),
    )


A_HT_SQL = """
WITH tot AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
    AS grand
  FROM orders
),
flagged AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS y,
    LEAST(1.0, 500.0 * o_totalprice / grand) AS p,
    CAST(('0x' || substring(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
                            1, 13)) AS UBIGINT)
      / 4503599627370496.0 AS u,
    grand
  FROM orders CROSS JOIN tot
)
SELECT
  CAST(SUM(CASE WHEN u < p THEN 1 ELSE 0 END) AS BIGINT)
    AS n_sampled,
  ROUND(CAST(SUM(CASE WHEN u < p
      THEN CAST(y / p AS DECIMAL(38,10)) END) AS DOUBLE), 2)
    AS ht_estimate,
  ROUND(MAX(grand), 2) AS true_total
FROM flagged
"""


# ------------------------------------------------------------------ #
# q_progressive_fees
# ------------------------------------------------------------------ #


def q_progressive_fees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive bracket fee per order (exact integer cents x basis
    points), rolled up per order priority."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("long")
    base = orders.select(
        "o_orderpriority", cents.alias("cents")
    )
    uppers = [b[0] for b in _BRACKETS[1:]] + [None]
    fee = None
    for (lo, bps), hi in zip(_BRACKETS, uppers):
        lo_c = lo * 100
        span = (
            F.greatest(F.lit(0), F.col("cents") - F.lit(lo_c))
            if hi is None
            else F.greatest(
                F.lit(0),
                F.least(F.col("cents"), F.lit(hi * 100)) - F.lit(lo_c),
            )
        )
        term = span * F.lit(bps)
        fee = term if fee is None else fee + term
    # fee is in cents * bps; divide by 10_000 at the end (exact int)
    return (
        base.select("o_orderpriority", fee.alias("fee_raw"), "cents")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum(F.col("fee_raw").cast("decimal(38,0)"))
                / F.lit(1_000_000)
            ).cast("double").alias("total_fees"),
        )
        .orderBy("o_orderpriority")
    )


def _fee_sql() -> str:
    uppers = [b[0] for b in _BRACKETS[1:]] + [None]
    terms = []
    for (lo, bps), hi in zip(_BRACKETS, uppers):
        lo_c = lo * 100
        if hi is None:
            span = f"GREATEST(0, cents - {lo_c})"
        else:
            span = f"GREATEST(0, LEAST(cents, {hi * 100}) - {lo_c})"
        terms.append(f"{span} * {bps}")
    fee = " + ".join(terms)
    return f"""
WITH base AS (
  SELECT o_orderpriority,
    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST({fee} AS DECIMAL(38,0))) / 1000000 AS DOUBLE)
    AS total_fees
FROM base GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ------------------------------------------------------------------ #
# e_triplet_violations
# ------------------------------------------------------------------ #


def e_triplet_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-margin sanity: violation rate over deterministic
    (anchor, pos, neg) triplets for anchors vec_id < 30."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r9-opt (guide §2.4): v feeds the anchor, positive and negative
    # sides; unstaged, the scan + norm re-ran per consumer (2
    # duplicate scans).
    v = _stage(
        emb.select(
            "vec_id", "label", as_double_vec(F.col("embedding")).alias("vec")
        ).withColumn("nrm", norm_expr(F.col("vec")))
    )
    anchors = v.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("albl"),
        F.col("vec").alias("avec"),
        F.col("nrm").alias("anrm"),
    )
    # pos: lowest-id OTHER vector with the same label
    # r7, window-funnel gate: a per-anchor row_number window would
    # stream each anchor's whole candidate set (data-scaled) through
    # one task; the lowest-id winner is a map-side-combinable min_by
    # over the unique pid/nid key instead.
    pos = (
        anchors.join(
            v.select(
                F.col("vec_id").alias("pid"),
                F.col("label").alias("plbl"),
                F.col("vec").alias("pvec"),
                F.col("nrm").alias("pnrm"),
            ),
            (F.col("albl") == F.col("plbl"))
            & (F.col("aid") != F.col("pid")),
        )
        .groupBy("aid")
        .agg(
            F.min_by(
                F.struct("albl", "avec", "anrm", "pid", "pvec", "pnrm"),
                F.col("pid"),
            ).alias("t")
        )
        .select(
            "aid", "t.albl", "t.avec", "t.anrm",
            "t.pid", "t.pvec", "t.pnrm",
        )
    )
    # neg: lowest-id vector with a different label
    trip = (
        pos.join(
            v.select(
                F.col("vec_id").alias("nid"),
                F.col("label").alias("nlbl"),
                F.col("vec").alias("nvec"),
                F.col("nrm").alias("nnrm"),
            ),
            F.col("albl") != F.col("nlbl"),
        )
        .groupBy("aid")
        .agg(
            F.min_by(
                F.struct(
                    "avec", "anrm", "pvec", "pnrm",
                    "nid", "nvec", "nnrm",
                ),
                F.col("nid"),
            ).alias("t")
        )
        .select(
            "aid", "t.avec", "t.anrm", "t.pvec", "t.pnrm",
            "t.nid", "t.nvec", "t.nnrm",
        )
    )
    cos_pos = F.round(
        dot_expr(F.col("avec"), F.col("pvec"))
        / (F.col("anrm") * F.col("pnrm")),
        6,
    )
    cos_neg = F.round(
        dot_expr(F.col("avec"), F.col("nvec"))
        / (F.col("anrm") * F.col("nnrm")),
        6,
    )
    scored = trip.select(
        (cos_neg >= cos_pos).cast("long").alias("violated")
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_triplets"),
        F.sum("violated").cast("long").alias("n_violations"),
        F.round(
            F.sum("violated").cast("double") / F.count("*"), 6
        ).alias("violation_rate"),
    )


E_TRIPLET_SQL = """
WITH v AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS vec
  FROM embeddings
),
norms AS (
  SELECT vec_id, label, vec,
    sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
  FROM v
),
pos AS (
  SELECT a.vec_id AS aid, a.label AS albl, a.vec AS avec,
    a.nrm AS anrm, p.vec AS pvec, p.nrm AS pnrm
  FROM norms a JOIN norms p
    ON a.label = p.label AND a.vec_id <> p.vec_id
  WHERE a.vec_id < 30
  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
    ORDER BY p.vec_id) = 1
),
trip AS (
  SELECT pos.*, n.vec AS nvec, n.nrm AS nnrm
  FROM pos JOIN norms n ON pos.albl <> n.label
  QUALIFY ROW_NUMBER() OVER (PARTITION BY aid ORDER BY n.vec_id) = 1
),
scored AS (
  SELECT CASE WHEN
    ROUND(list_sum(list_transform(generate_series(1, len(avec)),
        i -> avec[i] * nvec[i])) / (anrm * nnrm), 6)
    >= ROUND(list_sum(list_transform(generate_series(1, len(avec)),
        i -> avec[i] * pvec[i])) / (anrm * pnrm), 6)
    THEN 1 ELSE 0 END AS violated
  FROM trip
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triplets,
  CAST(SUM(violated) AS BIGINT) AS n_violations,
  ROUND(CAST(SUM(violated) AS DOUBLE) / COUNT(*), 6)
    AS violation_rate
FROM scored
"""


SPECS = [
    QuerySpec(
        "a_horvitz_thompson",
        a_horvitz_thompson,
        A_HT_SQL,
        doc="PPS md5 sample + HT total estimate vs checkable truth",
        tags=("sampling", "stats"),
    ),
    QuerySpec(
        "q_progressive_fees",
        q_progressive_fees,
        _fee_sql(),
        doc="progressive bracket fees in exact cents x bps, per priority",
        tags=("finance",),
    ),
    QuerySpec(
        "e_triplet_violations",
        e_triplet_violations,
        E_TRIPLET_SQL,
        doc="deterministic triplet violation rate (metric-learning eval)",
        tags=("embedding", "eval"),
    ),
]
