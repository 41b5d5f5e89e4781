"""Forty-first wave: seasonal anomaly detection and k-center coreset
selection.

Reference parity note: engine-native composition analytics + a
training-data pruning op (BASELINE.json north star); both carry
exact DuckDB oracles.

- **Seasonal anomaly** (`q_seasonal_anomaly`) — compose the wave-28
  day-of-week index with a z-score screen: daily revenue is divided
  by its weekday's seasonal index (broadcast), then days whose
  deseasonalized value deviates > 2σ from the deseasonalized mean
  are flagged.  Exactly the two-stage shape of production anomaly
  monitors (seasonal baseline → residual test), with all moments
  from exact decimal sums.
- **k-center coreset** (`s_kcenter_coreset`) — greedy farthest-point
  selection of K=5 representative embeddings: seed at vec_id 0,
  each round adds the point farthest from the selected set
  (deterministic min-distance / vec_id tiebreaks).  Per round: ONE
  broadcast of the selected rows + a corpus-wide min-distance agg —
  the k-means-seed shape (`operators/ivf.py`), unrolled here so the
  oracle can state the same K−1 argmax rounds as chained CTEs.  The
  classic data-pruning / coverage-sampling primitive for training
  sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _release, _round, _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# q_seasonal_anomaly
# ------------------------------------------------------------------ #

ANOM_Z = 2.0


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose deseasonalized revenue deviates > 2σ."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # r8-opt: the calendar-day rollup (one row per ship date) feeds
    # the day-of-week index, the deseasonalized series, its moment
    # stats and the final screen — unstaged, Catalyst re-ran the
    # full lineitem scan + rollup per consumer (6 scans / 38
    # exchange refs in the captured plan); staged it runs once
    # (guide §2.4).
    daily = _stage(
        li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
            F.sum(rev.cast("decimal(24,6)")).alias("x_dec")
        )
    )
    dow = daily.groupBy(F.dayofweek("day").alias("dow")).agg(
        F.sum("x_dec").alias("dow_rev"), F.count("*").alias("n_days")
    )
    tot = dow.agg(
        F.sum("dow_rev").alias("tot"), F.sum("n_days").alias("all_days")
    )
    idx = (
        dow.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            F.round(
                (
                    F.col("dow_rev").cast("double")
                    / F.col("n_days").cast("double")
                )
                / (
                    F.col("tot").cast("double")
                    / F.col("all_days").cast("double")
                ),
                6,
            ).alias("sidx"),
        )
    )
    deseason = daily.join(
        F.broadcast(idx), F.dayofweek("day") == F.col("dow")
    ).select(
        "day",
        F.round(
            F.col("x_dec").cast("double") / F.col("sidx"), 6
        ).alias("ds"),
    )
    stats = deseason.agg(
        F.count("*").alias("n"),
        F.sum(F.col("ds").cast("decimal(24,6)")).cast("double").alias("s1"),
        F.sum((F.col("ds") * F.col("ds")).cast("decimal(32,6)"))
        .cast("double")
        .alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1") / nd
    sd = F.sqrt(F.col("s2") / nd - mean * mean)
    flagged = deseason.crossJoin(F.broadcast(stats)).select(
        "day",
        "ds",
        F.round((F.col("ds") - mean) / sd, 6).alias("z"),
    )
    return (
        flagged.filter(F.abs("z") > ANOM_Z)
        .select("day", "ds", "z")
        .orderBy("day")
    )


Q_SEASONAL_ANOM_SQL = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
      AS x_dec
  FROM lineitem GROUP BY 1
),
dow AS (
  SELECT dayofweek(day) + 1 AS dow, SUM(x_dec) AS dow_rev,
    COUNT(*) AS n_days
  FROM daily GROUP BY 1
),
tot AS (SELECT SUM(dow_rev) AS tot, SUM(n_days) AS all_days FROM dow),
idx AS (
  SELECT dow,
    ROUND((CAST(dow_rev AS DOUBLE) / CAST(n_days AS DOUBLE))
          / (CAST(tot AS DOUBLE) / CAST(all_days AS DOUBLE)), 6)
      AS sidx
  FROM dow CROSS JOIN tot
),
deseason AS (
  SELECT d.day,
    ROUND(CAST(d.x_dec AS DOUBLE) / i.sidx, 6) AS ds
  FROM daily d JOIN idx i ON dayofweek(d.day) + 1 = i.dow
),
stats AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(ds AS DECIMAL(24,6))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(ds * ds AS DECIMAL(32,6))) AS DOUBLE) AS s2
  FROM deseason
)
SELECT day, ds,
  ROUND((ds - s1 / n)
        / SQRT(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
FROM deseason CROSS JOIN stats
WHERE ABS((ds - s1 / n)
          / SQRT(s2 / n - (s1 / n) * (s1 / n))) > {ANOM_Z}
ORDER BY day
"""


# ------------------------------------------------------------------ #
# s_kcenter_coreset
# ------------------------------------------------------------------ #

CORESET_K = 5


def s_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center selection of CORESET_K embeddings: seed at
    vec_id 0; each round adds the point with max distance to the
    selected set (ties → smaller vec_id).

    Scale shape: greedy k-center is inherently sequential in k, but
    each round is ONE distributed pass that compares the candidate set
    against only the round's NEW center (broadcast, 1 row) and folds
    it into the running ``min_d`` — the standard incremental
    formulation.  Total work is O(k·n) distance evals with no growing
    ``isin`` literal and no re-scan of prior centers.  The next center
    (vector included) is observed on each round's checkpoint.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )

    def dist_to(center_vec: str) -> F.Column:
        return F.sqrt(
            F.aggregate(
                F.zip_with("vec", center_vec, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
        )

    # the oracle's ORDER BY min_d DESC, vec_id as a total-order key
    farthest = F.max_by(
        F.struct("vec_id", "min_d", "vec"), F.struct("min_d", -F.col("vec_id"))
    ).alias("top")
    # round 0 seed; candidates carry min distance to the selected set
    seed = emb.filter(F.col("vec_id") == 0).select(F.col("vec").alias("svec"))
    cand, m = _round(
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(seed))
        .select("vec_id", "vec", F.round(dist_to("svec"), 9).alias("min_d")),
        [farthest],
    )
    rounds = []
    for rnd in range(1, CORESET_K):
        top = m["top"]
        rounds.append((rnd, top["vec_id"], top["min_d"]))
        if rnd < CORESET_K - 1:
            center = spark.createDataFrame([(top["vec"],)], "svec array<double>")
            cand, m = _round(
                cand.filter(F.col("vec_id") != top["vec_id"])
                .crossJoin(F.broadcast(center))
                .select(
                    "vec_id",
                    "vec",
                    F.least(
                        F.col("min_d"), F.round(dist_to("svec"), 9)
                    ).alias("min_d"),
                ),
                [farthest],
                prev=cand,
            )
    _release(cand)
    return spark.createDataFrame(
        [(0, 0, 0.0)] + rounds,
        "round int, vec_id long, coverage_radius double",
    ).orderBy("round")


def _coreset_sql() -> str:
    parts = [
        """v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vec
  FROM embeddings
),
sel0(vec_id) AS (VALUES (CAST(0 AS BIGINT)))"""
    ]
    pick = []
    for rnd in range(1, CORESET_K):
        prev = f"sel{rnd - 1}"
        parts.append(
            f"""
mind{rnd} AS (
  SELECT c.vec_id,
    MIN(ROUND(sqrt(list_sum(list_transform(
      generate_series(1, len(c.vec)),
      i -> (c.vec[i] - s.vec[i]) * (c.vec[i] - s.vec[i])))), 9)) AS min_d
  FROM v c JOIN v s ON s.vec_id IN (SELECT vec_id FROM {prev})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY c.vec_id
),
pick{rnd} AS (
  SELECT vec_id, min_d FROM mind{rnd}
  ORDER BY min_d DESC, vec_id LIMIT 1
),
sel{rnd}(vec_id) AS (
  SELECT vec_id FROM {prev} UNION ALL SELECT vec_id FROM pick{rnd}
)"""
        )
        pick.append(
            f"SELECT {rnd} AS round, vec_id, min_d AS coverage_radius"
            f" FROM pick{rnd}"
        )
    union = " UNION ALL ".join(
        ["SELECT 0 AS round, CAST(0 AS BIGINT) AS vec_id,"
         " CAST(0.0 AS DOUBLE) AS coverage_radius"] + pick
    )
    return (
        "WITH " + ",".join(parts) + f"\n{union}\nORDER BY round"
    )


SPECS = [
    QuerySpec(
        "q_seasonal_anomaly",
        q_seasonal_anomaly,
        Q_SEASONAL_ANOM_SQL,
        doc="deseasonalized daily revenue z-score anomalies",
        tags=("timeseries", "anomaly"),
    ),
    QuerySpec(
        "s_kcenter_coreset",
        s_kcenter_coreset,
        _coreset_sql(),
        doc="greedy k-center coreset of embeddings (unrolled rounds)",
        tags=("sampling", "embeddings"),
    ),
]
