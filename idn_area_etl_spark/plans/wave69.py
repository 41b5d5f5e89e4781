"""Sixty-ninth wave: permutation inference, duplicate-payment audit,
and stratified k-fold.

Reference parity note: re-randomization inference + financial audit
+ CV tooling; every query carries an exact DuckDB oracle.

- **Permutation test** (`a_permutation_test`) — design-based
  inference without normality: the observed arm difference in mean
  user value vs 24 deterministic md5 re-randomizations of the same
  users; the p-value proxy is the share of permuted |diffs| that
  reach the observed |diff|.  One explode-by-B pass over the user
  rollup (B x users tiny rows).
- **Duplicate payments** (`q_duplicate_payment_screen`) — the audit
  classic: order pairs from the same customer with NEAR-identical
  totals (within 5%) inside a 60-day window; per-customer pair
  counts and exposed amount.  The self-join is keyed on the
  customer — the amount-band and date-window tests are residual
  filters over that customer's own orders, never a cross product.
- **Stratified k-fold** (`s_stratified_kfold`) — label-preserving
  5-fold assignment (round-robin within label by vec_id order);
  the per-(fold, label) count matrix proves each fold mirrors the
  label mix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import grouped_running_multi
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

_B = 24


# ------------------------------------------------------------------ #
# a_permutation_test
# ------------------------------------------------------------------ #


def a_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed md5-arm diff in mean user value vs 24 md5
    re-randomizations; share of permuted |diffs| >= observed."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): per_user feeds the observed-arm rollup and
    # the 24-way permutation explode; unstaged, the events scan +
    # rollup re-ran per consumer (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    per_user = _stage(
        ev.groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(27,6)")).alias("tv")
        )
    )

    def arm(prefix):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(prefix), F.col("user_id").cast("string")
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

    obs = per_user.select(arm("arm:").alias("g"), "tv").groupBy("g").agg(
        F.count("*").alias("n"), F.sum("tv").alias("s")
    )
    obs_diff = obs.agg(
        (
            F.max(F.when(F.col("g") == 1, F.col("s").cast("double")))
            / F.max(F.when(F.col("g") == 1, F.col("n")))
            - F.max(F.when(F.col("g") == 0, F.col("s").cast("double")))
            / F.max(F.when(F.col("g") == 0, F.col("n")))
        ).alias("d_obs")
    )
    reps = per_user.select(
        "user_id",
        "tv",
        F.explode(F.sequence(F.lit(1), F.lit(_B))).alias("b"),
    ).select(
        "b",
        "tv",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("perm:"),
                            F.col("b").cast("string"),
                            F.lit(":"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("g"),
    )
    perm = reps.groupBy("b", "g").agg(
        F.count("*").alias("n"), F.sum("tv").alias("s")
    )
    perm_diff = perm.groupBy("b").agg(
        (
            F.max(F.when(F.col("g") == 1, F.col("s").cast("double")))
            / F.max(F.when(F.col("g") == 1, F.col("n")))
            - F.max(F.when(F.col("g") == 0, F.col("s").cast("double")))
            / F.max(F.when(F.col("g") == 0, F.col("n")))
        ).alias("d")
    )
    return perm_diff.crossJoin(F.broadcast(obs_diff)).agg(
        F.count("*").cast("long").alias("n_perms"),
        F.round(F.max("d_obs"), 6).alias("observed_diff"),
        F.sum(
            (F.abs(F.col("d")) >= F.abs(F.col("d_obs"))).cast("long")
        )
        .cast("long")
        .alias("n_as_extreme"),
    )


A_PERM_SQL = f"""
WITH per_user AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(27,6))) AS tv
  FROM events GROUP BY user_id
),
obs AS (
  SELECT CAST(('0x' || substring(md5('arm:' ||
      CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g,
    COUNT(*) AS n, SUM(tv) AS s
  FROM per_user GROUP BY 1
),
obs_diff AS (
  SELECT MAX(CASE WHEN g = 1 THEN CAST(s AS DOUBLE) END)
      / MAX(CASE WHEN g = 1 THEN n END)
    - MAX(CASE WHEN g = 0 THEN CAST(s AS DOUBLE) END)
      / MAX(CASE WHEN g = 0 THEN n END) AS d_obs
  FROM obs
),
reps AS (
  SELECT b, tv,
    CAST(('0x' || substring(md5('perm:' || CAST(b AS VARCHAR) || ':'
      || CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g
  FROM per_user
  CROSS JOIN (SELECT unnest(generate_series(1, {_B})) AS b)
),
perm AS (
  SELECT b, g, COUNT(*) AS n, SUM(tv) AS s FROM reps GROUP BY 1, 2
),
perm_diff AS (
  SELECT b,
    MAX(CASE WHEN g = 1 THEN CAST(s AS DOUBLE) END)
      / MAX(CASE WHEN g = 1 THEN n END)
    - MAX(CASE WHEN g = 0 THEN CAST(s AS DOUBLE) END)
      / MAX(CASE WHEN g = 0 THEN n END) AS d
  FROM perm GROUP BY b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
  ROUND(MAX(d_obs), 6) AS observed_diff,
  CAST(SUM(CASE WHEN ABS(d) >= ABS(d_obs) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_as_extreme
FROM perm_diff CROSS JOIN obs_diff
"""


# ------------------------------------------------------------------ #
# q_duplicate_payment_screen
# ------------------------------------------------------------------ #


def q_duplicate_payment_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same-customer near-identical-amount (within 5%) order pairs
    inside a 60-day window: exposure per customer (top 20)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("amt"),
        F.to_date("o_orderdate").alias("d"),
    )
    a, b = o.alias("a"), o.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.abs(F.datediff(F.col("a.d"), F.col("b.d"))) <= 60)
        & (
            F.abs(F.col("a.amt") - F.col("b.amt"))
            <= 0.05 * F.greatest(F.col("a.amt"), F.col("b.amt"))
        ),
    ).select(
        F.col("a.o_custkey").alias("custkey"),
        F.col("a.amt").alias("amt"),
    )
    return (
        pairs.groupBy("custkey")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("amt").cast("double").alias("exposed_amount"),
        )
        .orderBy(F.desc("exposed_amount"), "custkey")
        .limit(20)
    )


Q_DUPPAY_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
    CAST(o_totalprice AS DECIMAL(18,2)) AS amt,
    CAST(o_orderdate AS DATE) AS d
  FROM orders
),
pairs AS (
  SELECT a.o_custkey AS custkey, a.amt
  FROM o a JOIN o b
    ON a.o_custkey = b.o_custkey
   AND a.o_orderkey < b.o_orderkey
   AND ABS(datediff('day', b.d, a.d)) <= 60
   AND ABS(a.amt - b.amt) <= 0.05 * GREATEST(a.amt, b.amt)
)
SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(amt) AS DOUBLE) AS exposed_amount
FROM pairs GROUP BY custkey
ORDER BY exposed_amount DESC, custkey LIMIT 20
"""


# ------------------------------------------------------------------ #
# s_stratified_kfold
# ------------------------------------------------------------------ #


def s_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-stratified 5-fold assignment (round-robin within label);
    per-(fold, label) counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r7, window-funnel gate: label has a fixed small domain, so a
    # plain per-label window would stream each label's whole embedding
    # set through one task; the round-robin position is the
    # distributed per-group running count instead
    folded = grouped_running_multi(
        emb.select("label", "vec_id"),
        ["label"],
        [F.col("vec_id")],
        {"one": F.lit(1)},
    ).select(
        "label",
        ((F.col("grun_one") - 1) % 5).cast("int").alias("fold"),
    )
    return (
        folded.groupBy("fold", "label")
        .agg(F.count("*").alias("n"))
        .orderBy("fold", "label")
    )


S_KFOLD_SQL = """
WITH folded AS (
  SELECT label,
    (ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1) % 5
      AS fold
  FROM embeddings
)
SELECT fold, label, CAST(COUNT(*) AS BIGINT) AS n
FROM folded GROUP BY fold, label ORDER BY fold, label
"""


SPECS = [
    QuerySpec(
        "a_permutation_test",
        a_permutation_test,
        A_PERM_SQL,
        doc="md5 re-randomization test of the arm mean difference",
        tags=("experimentation", "stats"),
    ),
    QuerySpec(
        "q_duplicate_payment_screen",
        q_duplicate_payment_screen,
        Q_DUPPAY_SQL,
        doc="same-customer same-amount orders within 3 days (audit)",
        tags=("finance", "audit"),
    ),
    QuerySpec(
        "s_stratified_kfold",
        s_stratified_kfold,
        S_KFOLD_SQL,
        doc="label-stratified 5-fold assignment matrix",
        tags=("sampling", "ml-eval"),
    ),
]
