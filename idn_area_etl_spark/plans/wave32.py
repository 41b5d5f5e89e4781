"""Thirty-second wave: model scoring + evaluation on-engine (exact
AUC, calibration) and Kaplan-Meier survival curves.

Reference parity note: engine-native analytics (the reference has no
numeric surface, SURVEY.md §2.4); every query carries an exact DuckDB
oracle.

- **Model AUC** (`a_model_auc`) — score embeddings with a fixed
  logistic model (deterministic coefficients, sigmoid of a row-local
  fold) and compute the EXACT tie-aware ROC AUC via the Mann-Whitney
  rank formula: rollup by distinct score (ties share an average
  rank), one ordered window over the score rollup, decimal rank
  sums.  This is how model eval runs at 100 TB — no sklearn, no
  driver collect, one shuffle by score.
- **Calibration deciles** (`a_score_calibration`) — decile buckets of
  the model score (threshold-broadcast pattern, wave-27 stance) with
  mean score vs observed positive rate per bucket — the reliability
  diagram behind the AUC.
- **Survival curve** (`q_survival_curve`) — weekly Kaplan-Meier over
  user lifetimes: users whose last activity predates the horizon are
  churn events, the rest censored.  S(t) = Π(1 − d/n) computed as
  exp of a decimal-summed per-row ln — order-independent and
  bit-identical across engines; the product runs over the tiny
  week-level life table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import global_running_sum
from idn_area_etl_spark.operators.ranks import discrete_quantiles
from idn_area_etl_spark.plans.registry import QuerySpec, discrete_thresholds_sql
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# shared: deterministic logistic model over the embedding vector
# ------------------------------------------------------------------ #

EMB_DIM = 64

#: fixed pseudo-trained coefficients w_j = ((j*37) % 19 − 9) / 10
MODEL_COEFS = [((j * 37) % 19 - 9) / 10.0 for j in range(EMB_DIM)]


def _score_expr(vec: Column) -> Column:
    """sigmoid(w · x) as a row-local indexed fold (identical IEEE
    evaluation order on both engines), rounded at 6 dp."""
    dot = None
    for j, w in enumerate(MODEL_COEFS):
        term = F.get(vec, j).cast("double") * F.lit(w)
        dot = term if dot is None else dot + term
    return F.round(1.0 / (1.0 + F.exp(-dot)), 6)


def _score_sql() -> str:
    terms = " + ".join(
        f"CAST(embedding[{j + 1}] AS DOUBLE) * ({w})"
        for j, w in enumerate(MODEL_COEFS)
    )
    return f"ROUND(1.0 / (1.0 + EXP(-({terms}))), 6)"


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        _score_expr(F.col("embedding")).alias("score"),
        (F.col("label") % 2 == 1).cast("int").alias("y"),
    )


# ------------------------------------------------------------------ #
# a_model_auc
# ------------------------------------------------------------------ #


def a_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC via Mann-Whitney average ranks."""
    s = _scored(spark, sf_dir)
    rolled = s.groupBy("score").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
    )
    # distinct-score cardinality is data-dependent — the cumulative
    # count comes from the distributed range-partitioned running sum
    # (inclusive minus own group), not a single-partition window
    ranked = global_running_sum(
        rolled, [F.col("score").asc()], F.col("n"), out="cum_incl"
    ).select(
        "n",
        "n_pos",
        (F.col("cum_incl") - F.col("n")).alias("cum_before"),
    )
    # average rank of a tie group = cum_before + (n + 1) / 2
    avg_rank = (
        F.col("cum_before").cast("double")
        + (F.col("n").cast("double") + 1.0) / 2.0
    )
    sums = ranked.agg(
        F.sum("n").alias("n_total"),
        F.sum("n_pos").alias("n1"),
        F.sum(
            (F.col("n_pos").cast("double") * avg_rank).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("rank_sum_pos"),
    )
    n1 = F.col("n1").cast("double")
    n0 = (F.col("n_total") - F.col("n1")).cast("double")
    auc = (F.col("rank_sum_pos") - n1 * (n1 + 1.0) / 2.0) / (n1 * n0)
    return sums.select(
        F.col("n_total").cast("long").alias("n_total"),
        F.col("n1").cast("long").alias("n_pos"),
        F.round(auc, 6).alias("auc"),
    )


def _auc_sql() -> str:
    return f"""
WITH scored AS (
  SELECT vec_id, {_score_sql()} AS score,
    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
rolled AS (
  SELECT score, COUNT(*) AS n, SUM(y) AS n_pos
  FROM scored GROUP BY score
),
ranked AS (
  SELECT n, n_pos,
    COALESCE(SUM(n) OVER (ORDER BY score
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS cum_before
  FROM rolled
),
sums AS (
  SELECT SUM(n) AS n_total, SUM(n_pos) AS n1,
    CAST(SUM(CAST(CAST(n_pos AS DOUBLE)
      * (CAST(cum_before AS DOUBLE) + (CAST(n AS DOUBLE) + 1.0) / 2.0)
      AS DECIMAL(28,6))) AS DOUBLE) AS rank_sum_pos
  FROM ranked
)
SELECT CAST(n_total AS BIGINT) AS n_total,
  CAST(n1 AS BIGINT) AS n_pos,
  ROUND((rank_sum_pos
         - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
        / (CAST(n1 AS DOUBLE)
           * CAST(n_total - n1 AS DOUBLE)), 6) AS auc
FROM sums
"""


# ------------------------------------------------------------------ #
# a_score_calibration
# ------------------------------------------------------------------ #

CALIB_BUCKETS = 10


def a_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: decile buckets of score vs positive rate."""
    s = _scored(spark, sf_dir)
    qs = [(i, CALIB_BUCKETS) for i in range(1, CALIB_BUCKETS)]
    # discrete decile thresholds (r7: no interpolated percentiles)
    thr = discrete_quantiles(s, F.col("score"), qs)
    bucket = 1 + sum(
        (F.col("score") > F.col(f"t{i}")).cast("int")
        for i in range(len(qs))
    )
    return (
        s.crossJoin(F.broadcast(thr))
        .select(bucket.alias("bucket"), "score", "y")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("score").cast("decimal(20,6)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum("y").cast("double") / F.count("*").cast("double"), 6
            ).alias("pos_rate"),
        )
        .orderBy("bucket")
    )


def _calib_sql() -> str:
    qs = [(i, CALIB_BUCKETS) for i in range(1, CALIB_BUCKETS)]
    thr = discrete_thresholds_sql("scored", "score", qs)
    ex = " + ".join(
        f"CASE WHEN score > t{i} THEN 1 ELSE 0 END"
        for i in range(len(qs))
    )
    return f"""
WITH scored AS (
  SELECT {_score_sql()} AS score,
    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
thr AS (SELECT * FROM {thr})
SELECT 1 + ({ex}) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(CAST(score AS DECIMAL(20,6))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS mean_score,
  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
    AS pos_rate
FROM scored CROSS JOIN thr
GROUP BY 1 ORDER BY bucket
"""


# ------------------------------------------------------------------ #
# q_survival_curve
# ------------------------------------------------------------------ #

CENSOR_DAYS = 7


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly Kaplan-Meier over user activity lifetimes."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.3/§2.4): the horizon derives from the staged
    # per-user rollup (max over per-user maxes = the global max date,
    # exactly) instead of a second full events scan.
    from idn_area_etl_spark.operators.stage import _stage

    per_user = _stage(
        ev.groupBy("user_id").agg(
            F.min(F.to_date("ts")).alias("first_d"),
            F.max(F.to_date("ts")).alias("last_d"),
        )
    )
    horizon = per_user.agg(F.max("last_d").alias("horizon"))
    lives = (
        per_user
        .crossJoin(F.broadcast(horizon))
        .select(
            (
                F.floor(
                    F.datediff("last_d", "first_d") / F.lit(7)
                ).cast("int")
            ).alias("life_weeks"),
            (
                F.datediff("horizon", "last_d") > CENSOR_DAYS
            ).cast("int").alias("churned"),
        )
    )
    table = lives.groupBy("life_weeks").agg(
        F.count("*").alias("ending"),
        F.sum("churned").alias("deaths"),
    )
    w_risk = Window.orderBy(F.col("life_weeks").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = table.select(
        "life_weeks",
        "deaths",
        F.sum("ending").over(w_risk).alias("n_at_risk"),
    )
    # S(t) = exp(Σ_{u<=t} ln(1 - d_u/n_u)) — per-row ln is identical
    # IEEE, the sum is exact decimal → bit-stable cumulative product.
    ln_term = F.log(
        1.0
        - F.col("deaths").cast("double") / F.col("n_at_risk").cast("double")
    )
    w_cum = Window.orderBy("life_weeks").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return at_risk.select(
        "life_weeks",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("deaths").cast("long").alias("churned"),
        F.round(
            F.exp(
                F.sum(ln_term.cast("decimal(24,12)"))
                .over(w_cum)
                .cast("double")
            ),
            6,
        ).alias("survival"),
    ).orderBy("life_weeks")


Q_SURVIVAL_SQL = f"""
WITH horizon AS (SELECT MAX(CAST(ts AS DATE)) AS horizon FROM events),
lives AS (
  SELECT
    CAST(FLOOR(date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) / 7) AS INT)
      AS life_weeks,
    CASE WHEN date_diff('day', MAX(CAST(ts AS DATE)),
                        (SELECT horizon FROM horizon)) > {CENSOR_DAYS}
         THEN 1 ELSE 0 END AS churned
  FROM events GROUP BY user_id
),
life_table AS (
  SELECT life_weeks, COUNT(*) AS ending, SUM(churned) AS deaths
  FROM lives GROUP BY life_weeks
),
at_risk AS (
  SELECT life_weeks, deaths,
    SUM(ending) OVER (ORDER BY life_weeks DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
  FROM life_table
)
SELECT life_weeks, CAST(n_at_risk AS BIGINT) AS n_at_risk,
  CAST(deaths AS BIGINT) AS churned,
  ROUND(EXP(CAST(SUM(CAST(LN(1.0 - CAST(deaths AS DOUBLE)
                              / CAST(n_at_risk AS DOUBLE))
                          AS DECIMAL(24,12))) OVER (
    ORDER BY life_weeks
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE)), 6) AS survival
FROM at_risk ORDER BY life_weeks
"""


SPECS = [
    QuerySpec(
        "a_model_auc",
        a_model_auc,
        _auc_sql(),
        doc="exact tie-aware ROC AUC via Mann-Whitney rank rollup",
        tags=("ml-eval", "stats"),
    ),
    QuerySpec(
        "a_score_calibration",
        a_score_calibration,
        _calib_sql(),
        doc="score-decile reliability diagram (mean score vs pos rate)",
        tags=("ml-eval",),
    ),
    QuerySpec(
        "q_survival_curve",
        q_survival_curve,
        Q_SURVIVAL_SQL,
        doc="weekly Kaplan-Meier churn survival curve",
        tags=("stats", "survival"),
    ),
]
