"""Seventieth wave: log-rank test, power-iteration PCA, and HHI
concentration.

Reference parity note: survival comparison + spectral analysis +
market-structure measurement.

- **Log-rank test** (`a_logrank_test`, oracle) — the standard
  two-group survival comparison on time-to-first-purchase (hours
  from each user's first event), md5 arms, no censoring: at each
  distinct event time the observed-vs-expected group-1 events and
  the hypergeometric variance accumulate into the z statistic.
  One risk-set window pass over the distinct-time rollup.
- **Top principal component** (`e_top_eigenvector`, rows-only) —
  15 fixed power iterations where each step is one distributed
  pass (X v then X^T s, keyed by dim index; no d x d covariance
  ever materialized).  Pinned against numpy eigendecomposition in
  tests/test_pca.py.
- **Planted eigenvector fixed point** (`e_eigvec_planted`, exact
  oracle — r7, the planted-isotonic pattern's fourth application):
  a dataset whose entire variance lives on ONE coordinate axis is a
  fixed point of power iteration IN FLOATING POINT — after one
  step the off-axis components are exactly 0.0 (every product has
  a 0.0 factor) and the on-axis component normalizes to exactly
  1.0 (`p/p`; `sqrt(p*p) == p` is an IEEE round-to-nearest
  identity), so the REAL operator must return the planted basis
  vector bit-exactly and plain SQL pins the full output, including
  the per-dim means.
- **HHI** (`a_hhi_concentration`, oracle) — Herfindahl-Hirschman
  supplier concentration of each part's line revenue, averaged per
  brand-less part group (part key ranges), flagging concentrated
  parts (HHI > 0.25).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.pca import top_principal_component
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_logrank_test
# ------------------------------------------------------------------ #


def a_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank z for time-to-first-purchase between md5 arms."""
    ev = load_table(spark, sf_dir, "events")
    # r8-opt: first-event and first-purchase times come from ONE
    # events pass (min + conditional min in the same map-side-
    # combinable aggregate; min over the purchase-only rows equals
    # min(when(purchase, ts)) since min ignores nulls, and the old
    # inner join kept exactly the users with a purchase = tb
    # non-null).  Unstaged the two aggregates + the two downstream
    # consumers re-scanned events 4x (20 exchange refs in the
    # captured plan); durations is staged for its two consumers
    # (guide §2.4).
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tb"),
    )
    durations = _stage(
        firsts.filter(F.col("tb").isNotNull()).select(
            arm.alias("g"),
            (
                (F.unix_micros("tb") - F.unix_micros("t0"))
                / F.lit(3_600_000_000.0)
            ).alias("t"),
        )
    )
    times = durations.groupBy("t").agg(
        F.count("*").alias("d"),
        F.sum("g").alias("d1"),
    )
    w = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = durations.agg(
        F.count("*").alias("N"), F.sum("g").alias("N1")
    )
    risk = times.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "d1",
        (F.col("N") - F.coalesce(F.sum("d").over(w), F.lit(0))).alias(
            "n_at_risk"
        ),
        (
            F.col("N1") - F.coalesce(F.sum("d1").over(w), F.lit(0))
        ).alias("n1_at_risk"),
    )
    e1 = (
        F.col("d").cast("double")
        * F.col("n1_at_risk")
        / F.col("n_at_risk")
    )
    vterm = F.when(
        F.col("n_at_risk") > 1,
        (
            F.col("d").cast("double")
            * (F.col("n1_at_risk").cast("double") / F.col("n_at_risk"))
            * (1.0 - F.col("n1_at_risk").cast("double") / F.col("n_at_risk"))
            * (F.col("n_at_risk") - F.col("d"))
            / (F.col("n_at_risk") - 1)
        ),
    ).otherwise(F.lit(0.0))
    agg = risk.agg(
        F.count("*").cast("long").alias("n_times"),
        F.sum(F.col("d1").cast("long")).cast("long").alias("o1"),
        F.sum(e1.cast("decimal(27,12)")).cast("double").alias("e1"),
        F.sum(vterm.cast("decimal(27,12)")).cast("double").alias("v"),
    )
    return agg.select(
        "n_times",
        "o1",
        F.round(F.col("e1"), 6).alias("expected1"),
        F.round(
            (F.col("o1").cast("double") - F.col("e1"))
            / F.sqrt(F.col("v")),
            6,
        ).alias("logrank_z"),
    )


A_LOGRANK_SQL = """
WITH first_any AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
),
first_buy AS (
  SELECT user_id, MIN(ts) AS tb FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
durations AS (
  SELECT
    CAST(('0x' || substring(md5('arm:' ||
        CAST(a.user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g,
    (epoch_us(tb) - epoch_us(t0)) / 3600000000.0 AS t
  FROM first_any a JOIN first_buy b ON a.user_id = b.user_id
),
times AS (
  SELECT t, COUNT(*) AS d, SUM(g) AS d1 FROM durations GROUP BY t
),
tot AS (SELECT COUNT(*) AS N, SUM(g) AS N1 FROM durations),
risk AS (
  SELECT t, d, d1,
    N - COALESCE(SUM(d) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS n_at_risk,
    N1 - COALESCE(SUM(d1) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS n1_at_risk
  FROM times CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
  CAST(SUM(d1) AS BIGINT) AS o1,
  ROUND(CAST(SUM(CAST(CAST(d AS DOUBLE) * n1_at_risk / n_at_risk
      AS DECIMAL(27,12))) AS DOUBLE), 6) AS expected1,
  ROUND((CAST(SUM(d1) AS DOUBLE)
    - CAST(SUM(CAST(CAST(d AS DOUBLE) * n1_at_risk / n_at_risk
        AS DECIMAL(27,12))) AS DOUBLE))
    / sqrt(CAST(SUM(CAST(
        CASE WHEN n_at_risk > 1 THEN
          CAST(d AS DOUBLE)
          * (CAST(n1_at_risk AS DOUBLE) / n_at_risk)
          * (1.0 - CAST(n1_at_risk AS DOUBLE) / n_at_risk)
          * (n_at_risk - d) / (n_at_risk - 1)
        ELSE 0.0 END AS DECIMAL(27,12))) AS DOUBLE)), 6)
    AS logrank_z
FROM risk
"""


# ------------------------------------------------------------------ #
# e_top_eigenvector
# ------------------------------------------------------------------ #


def e_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embeddings by 15 power
    iterations (rows-only; numpy-pinned)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return top_principal_component(spark, emb, n_iter=15).orderBy("d")


# ------------------------------------------------------------------ #
# e_eigvec_planted
# ------------------------------------------------------------------ #

#: Planted dominant axis.  Every other dim carries the CONSTANT d/256
#: (zero variance), so the covariance is exactly rank-1 on axis _J.
_J_PLANT = 7


def e_eigvec_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted eigenvector fixed point: run the REAL power-iteration
    operator on vectors whose only varying coordinate is axis ``_J``
    and verify it returns that basis vector bit-exactly.

    Exactness argument (every step IEEE-verifiable, no tolerance):

    - off-axis dims hold the constant ``d/256`` (8 decimal digits —
      exact in the operator's ``decimal(38,18)`` sums; ``n*d/256`` is
      an integer/256 < 2^52, so the mean division returns the constant
      EXACTLY and the centered values are exactly ``0.0``);
    - on-axis values are ``(md5_52bit % 2^20) / 1024`` — 10 decimal
      digits, exact in decimal, identical IEEE in both engines;
    - iteration 1: every off-axis reduction term has a ``0.0`` factor
      → off-axis components are exactly ``0.0``; the on-axis component
      ``p`` normalizes by ``sqrt(p*p)``, and ``fl(sqrt(fl(p*p))) == p``
      for round-to-nearest binary floating point (no over/underflow),
      so ``v`` becomes the exact basis vector and stays there for the
      remaining 14 iterations;
    - explained-variance ratio: numerator and denominator differ only
      by the operator's per-term decimal(38,18) quantization of values
      of magnitude ~512 (relative 1e-21), so ``round(evr, 6)`` is
      exactly ``1.0``.

    The general spec (``e_top_eigenvector``) stays rows-only — real
    embeddings have a near-degenerate top eigenspace no portable SQL
    can pin — but this planted twin gives the identical plan (same
    posexplode passes, same decimal reductions, same normalize loop)
    an exact cross-engine oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    k = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("eig:"), F.col("vec_id").cast("string"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(1 << 20)
    )
    t = k / F.lit(1024.0)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: F.when(d == _J_PLANT, t).otherwise(
            d.cast("double") / F.lit(256.0)
        ),
    )
    planted = emb.select(vec.alias("embedding"))
    return top_principal_component(spark, planted, n_iter=15).orderBy("d")


E_EIGVEC_PLANTED_SQL = """
WITH keyed AS (
  SELECT CAST(('0x' || substring(md5('eig:' || CAST(vec_id AS VARCHAR)),
               1, 13)) AS UBIGINT) % 1048576 AS k
  FROM embeddings
),
mj AS (
  -- the operator's exact mean: decimal(38,18) sum (10-digit values —
  -- exact), cast to double, then one IEEE double/count division
  SELECT CAST(SUM(CAST(k / 1024.0 AS DECIMAL(38,18))) AS DOUBLE)
         / COUNT(*) AS mu
  FROM keyed
)
SELECT CAST(d AS INT) AS d,
  CASE WHEN d = 7 THEN (SELECT mu FROM mj) ELSE d / 256.0 END AS mean,
  -- explicit DOUBLE casts: bare 1.0/0.0 literals are DECIMAL in DuckDB
  CAST(CASE WHEN d = 7 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS component,
  CAST(1.0 AS DOUBLE) AS explained_var_ratio
FROM range(64) r(d)
ORDER BY d
"""


# ------------------------------------------------------------------ #
# a_hhi_concentration
# ------------------------------------------------------------------ #


def a_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part supplier HHI of line revenue; distribution summary:
    mean HHI and concentrated-part share (HHI > 0.25)."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(27,2)")).alias("v")
    )
    tot = ps.groupBy("l_partkey").agg(F.sum("v").alias("vt"))
    hhi = (
        ps.join(tot, "l_partkey")
        .select(
            "l_partkey",
            (
                (F.col("v").cast("double") / F.col("vt").cast("double"))
                * (F.col("v").cast("double") / F.col("vt").cast("double"))
            ).cast("decimal(20,12)").alias("s2"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("s2").cast("double").alias("hhi"))
    )
    return hhi.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(
            (
                F.sum(F.col("hhi").cast("decimal(20,12)"))
                / F.count("*")
            ).cast("double"),
            6,
        ).alias("mean_hhi"),
        F.sum((F.col("hhi") > 0.25).cast("long"))
        .cast("long")
        .alias("n_concentrated"),
    )


A_HHI_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
    SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS v
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT l_partkey, SUM(v) AS vt FROM ps GROUP BY l_partkey),
hhi AS (
  SELECT ps.l_partkey,
    CAST(SUM(CAST((CAST(v AS DOUBLE) / CAST(vt AS DOUBLE))
        * (CAST(v AS DOUBLE) / CAST(vt AS DOUBLE))
        AS DECIMAL(20,12))) AS DOUBLE) AS hhi
  FROM ps JOIN tot ON ps.l_partkey = tot.l_partkey
  GROUP BY ps.l_partkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
  ROUND(CAST(SUM(CAST(hhi AS DECIMAL(20,12))) / COUNT(*) AS DOUBLE),
        6) AS mean_hhi,
  CAST(SUM(CASE WHEN hhi > 0.25 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_concentrated
FROM hhi
"""


SPECS = [
    QuerySpec(
        "a_logrank_test",
        a_logrank_test,
        A_LOGRANK_SQL,
        doc="log-rank z for time-to-first-purchase between md5 arms",
        tags=("stats", "survival"),
    ),
    QuerySpec(
        "e_top_eigenvector",
        e_top_eigenvector,
        None,  # iterative normalization; numpy-pinned in tests
        doc="top principal component via distributed power iteration",
        tags=("embedding", "spectral"),
    ),
    QuerySpec(
        "e_eigvec_planted",
        e_eigvec_planted,
        E_EIGVEC_PLANTED_SQL,
        doc="planted rank-1 fixed point: power iteration must return "
            "the planted basis vector bit-exactly (exact SQL oracle)",
        tags=("embedding", "spectral", "planted"),
    ),
    QuerySpec(
        "a_hhi_concentration",
        a_hhi_concentration,
        A_HHI_SQL,
        doc="per-part supplier HHI rollup + concentrated-part count",
        tags=("bi", "stats"),
    ),
]
