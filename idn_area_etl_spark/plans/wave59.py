"""Fifty-ninth wave: always-valid sequential monitoring, int8
quantization error, and post-stratified lift.

Reference parity note: experimentation-infra + vector-compression
extensions; every query carries an exact DuckDB oracle.

- **mSPRT monitor** (`a_msprt_monitor`) — the always-valid
  experiment dashboard: per day, cumulative per-arm means of event
  value (exact decimal sums), the mixture-SPRT likelihood ratio
  (normal mixture, tau^2 = 1, plug-in pooled variance) on the
  cumulative difference, and the "significant at alpha = .05"
  (Lambda > 20) flag.  Peeking-safe monitoring, in one pass over
  day-cumulative window sums.
- **Quantization error** (`e_quantization_error`) — the scalar-int8
  compression report: per-dimension min/max ranges (broadcast
  back), symmetric affine quantize/dequantize of every embedding
  value, per-label reconstruction MSE in exact decimal — the check
  run before shipping a quantized ANN index.
- **Post-stratified lift** (`a_poststratified_lift`) — arm contrast
  of the purchase-heavy-user rate re-weighted over value quintiles:
  removes stratum imbalance from the raw difference (the
  post-stratification / CUPAC-lite adjustment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import global_ntile
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

_ARM = lambda col: (  # noqa: E731 — shared md5 arm split
    F.conv(
        F.substring(
            F.md5(F.concat(F.lit("arm:"), col.cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    % 2
)


# ------------------------------------------------------------------ #
# a_msprt_monitor
# ------------------------------------------------------------------ #


def a_msprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day always-valid mSPRT likelihood ratio on the cumulative
    arm difference of mean event value."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.3/§2.4): ONE staged per-(day, arm) rollup now
    # also carries the squared-value sum, so the pooled variance
    # derives from the cells (decimal sums are associative → the
    # global N/S/SS are bit-identical to the direct pass) instead of
    # re-scanning events; the two cumulative arms read the same
    # staged frame (2 duplicate scans before).
    from idn_area_etl_spark.operators.stage import _stage

    daily = _stage(
        ev.select(
            F.to_date("ts").alias("day"),
            _ARM(F.col("user_id")).alias("arm"),
            "value",
        ).groupBy("day", "arm").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
            F.sum(
                (F.col("value") * F.col("value")).cast("decimal(38,10)")
            ).alias("ss"),
        )
    )
    w = Window.partitionBy("arm").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = daily.select(
        "day",
        "arm",
        F.sum("n").over(w).alias("cn"),
        F.sum("s").over(w).cast("double").alias("cs"),
    )
    c0 = cum.filter(F.col("arm") == 0).select(
        "day", F.col("cn").alias("n0"), F.col("cs").alias("s0")
    )
    c1 = cum.filter(F.col("arm") == 1).select(
        "day", F.col("cn").alias("n1"), F.col("cs").alias("s1")
    )
    # plug-in variance: pooled variance of value over ALL events,
    # rolled up from the staged daily cells (exact decimal sums)
    var = daily.agg(
        F.sum("n").alias("N"),
        F.sum("s").alias("S"),
        F.sum("ss").alias("SS"),
    ).select(
        (
            (
                F.col("SS").cast("double")
                - F.col("S").cast("double")
                * (F.col("S").cast("double") / F.col("N"))
            )
            / (F.col("N") - 1)
        ).alias("sigma2")
    )
    j = c0.join(c1, "day").crossJoin(F.broadcast(var))
    neff = (
        F.col("n0").cast("double")
        * F.col("n1")
        / (F.col("n0") + F.col("n1"))
    )
    delta = F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")
    lam = F.sqrt(
        F.col("sigma2") / (F.col("sigma2") + neff)
    ) * F.exp(
        neff * neff * delta * delta
        / (2.0 * F.col("sigma2") * (F.col("sigma2") + neff))
    )
    return j.select(
        "day",
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(delta, 6).alias("cum_delta"),
        F.round(lam, 6).alias("msprt_lambda"),
        (lam > 20.0).alias("significant"),
    ).orderBy("day")


A_MSPRT_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(('0x' || substring(md5('arm:' || CAST(user_id AS VARCHAR)),
                            1, 13)) AS UBIGINT) % 2 AS arm,
    COUNT(*) AS n, SUM(CAST(value AS DECIMAL(27,6))) AS s
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT day, arm,
    SUM(n) OVER (PARTITION BY arm ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
    CAST(SUM(s) OVER (PARTITION BY arm ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      AS cs
  FROM daily
),
var AS (
  SELECT (CAST(SUM(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE)
    - CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
      * (CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)))
    / (COUNT(*) - 1) AS sigma2
  FROM events
),
j AS (
  SELECT c0.day, c0.cn AS n0, c0.cs AS s0, c1.cn AS n1, c1.cs AS s1,
    sigma2
  FROM (SELECT * FROM cum WHERE arm = 0) c0
  JOIN (SELECT * FROM cum WHERE arm = 1) c1 USING (day)
  CROSS JOIN var
)
SELECT day, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
  ROUND(s1 / n1 - s0 / n0, 6) AS cum_delta,
  ROUND(sqrt(sigma2 / (sigma2
      + CAST(n0 AS DOUBLE) * n1 / (n0 + n1)))
    * exp((CAST(n0 AS DOUBLE) * n1 / (n0 + n1))
        * (CAST(n0 AS DOUBLE) * n1 / (n0 + n1))
        * (s1 / n1 - s0 / n0) * (s1 / n1 - s0 / n0)
        / (2.0 * sigma2
           * (sigma2 + CAST(n0 AS DOUBLE) * n1 / (n0 + n1)))), 6)
    AS msprt_lambda,
  (sqrt(sigma2 / (sigma2 + CAST(n0 AS DOUBLE) * n1 / (n0 + n1)))
    * exp((CAST(n0 AS DOUBLE) * n1 / (n0 + n1))
        * (CAST(n0 AS DOUBLE) * n1 / (n0 + n1))
        * (s1 / n1 - s0 / n0) * (s1 / n1 - s0 / n0)
        / (2.0 * sigma2
           * (sigma2 + CAST(n0 AS DOUBLE) * n1 / (n0 + n1))))
   > 20.0) AS significant
FROM j ORDER BY day
"""


# ------------------------------------------------------------------ #
# e_quantization_error
# ------------------------------------------------------------------ #


def e_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization reconstruction MSE per label."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("d", "x")
    ).select("label", "d", F.col("x").cast("double").alias("x"))
    ranges = dims.groupBy("d").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    scaled = dims.join(F.broadcast(ranges), "d").select(
        "label",
        "x",
        (
            F.round(
                (F.col("x") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 255.0
            )
            / 255.0
            * (F.col("hi") - F.col("lo"))
            + F.col("lo")
        ).alias("xq"),
    )
    return (
        scaled.select(
            "label",
            (
                (F.col("x") - F.col("xq")) * (F.col("x") - F.col("xq"))
            ).cast("decimal(38,18)").alias("e2"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_values"),
            F.round(
                (F.sum("e2") / F.count("*")).cast("double") * 1e6, 6
            ).alias("mse_x1e6"),
        )
        .orderBy("label")
    )


E_QUANT_SQL = """
WITH dims AS (
  SELECT label, d, CAST(x AS DOUBLE) AS x
  FROM (
    SELECT label, unnest(embedding) AS x,
      generate_subscripts(embedding, 1) AS d
    FROM embeddings
  )
),
ranges AS (
  SELECT d, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY d
),
scaled AS (
  SELECT label, x,
    ROUND((x - lo) / (hi - lo) * 255.0) / 255.0 * (hi - lo) + lo
      AS xq
  FROM dims JOIN ranges USING (d)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_values,
  ROUND(CAST(SUM(CAST((x - xq) * (x - xq) AS DECIMAL(38,18)))
             / COUNT(*) AS DOUBLE) * 1e6, 6) AS mse_x1e6
FROM scaled GROUP BY label ORDER BY label
"""


# ------------------------------------------------------------------ #
# a_poststratified_lift
# ------------------------------------------------------------------ #


def a_poststratified_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-heavy-user rate contrast re-weighted over total-value
    quintiles (post-stratification)."""
    ev = load_table(spark, sf_dir, "events")
    # outcome: purchase-heavy user (purchase share above the uniform
    # 1/5 across the five event types) — the obvious "ever purchased"
    # outcome is degenerate on this dense stream
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("tv"),
        (
            F.sum((F.col("event_type") == "purchase").cast("long")) * 5
            > F.count("*")
        ).cast("long").alias("converted"),
    )
    # per-user quintiles are unbounded at scale: distributed ntile
    strat = global_ntile(
        per_user,
        [F.col("tv").asc(), F.col("user_id").asc()],
        5,
        out="stratum",
    ).select(_ARM(F.col("user_id")).alias("arm"), "converted", "stratum")
    cells = strat.groupBy("stratum", "arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("k")
    )
    tot = strat.groupBy("stratum").agg(F.count("*").alias("ns"))
    grand = strat.agg(F.count("*").alias("N"))
    per_stratum = (
        cells.groupBy("stratum")
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("k"))).alias("k0"),
            F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("arm") == 1, F.col("k"))).alias("k1"),
            F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        )
        .join(tot, "stratum")
        .crossJoin(F.broadcast(grand))
        .select(
            (
                (
                    F.col("k1").cast("double") / F.col("n1")
                    - F.col("k0").cast("double") / F.col("n0")
                )
                * (F.col("ns").cast("double") / F.col("N"))
            ).cast("decimal(27,12)").alias("wdiff"),
            F.col("k0"),
            F.col("k1"),
            F.col("n0"),
            F.col("n1"),
        )
    )
    return per_stratum.agg(
        F.sum("k0").cast("long").alias("conv0"),
        F.sum("n0").cast("long").alias("users0"),
        F.sum("k1").cast("long").alias("conv1"),
        F.sum("n1").cast("long").alias("users1"),
        F.round(F.sum("wdiff").cast("double"), 6).alias(
            "stratified_lift"
        ),
    )


A_POSTSTRAT_SQL = """
WITH per_user AS (
  SELECT user_id,
    SUM(CAST(value AS DECIMAL(27,6))) AS tv,
    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              * 5 > COUNT(*) THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
strat AS (
  SELECT
    CAST(('0x' || substring(md5('arm:' || CAST(user_id AS VARCHAR)),
                            1, 13)) AS UBIGINT) % 2 AS arm,
    converted,
    NTILE(5) OVER (ORDER BY tv, user_id) AS stratum
  FROM per_user
),
cells AS (
  SELECT stratum, arm, COUNT(*) AS n, SUM(converted) AS k
  FROM strat GROUP BY 1, 2
),
tot AS (SELECT stratum, COUNT(*) AS ns FROM strat GROUP BY stratum),
grand AS (SELECT COUNT(*) AS n_all FROM strat),
per_stratum AS (
  SELECT
    CAST((CAST(MAX(CASE WHEN arm = 1 THEN k END) AS DOUBLE)
        / MAX(CASE WHEN arm = 1 THEN n END)
      - CAST(MAX(CASE WHEN arm = 0 THEN k END) AS DOUBLE)
        / MAX(CASE WHEN arm = 0 THEN n END))
      * (CAST(ns AS DOUBLE) / n_all) AS DECIMAL(27,12)) AS wdiff,
    MAX(CASE WHEN arm = 0 THEN k END) AS k0,
    MAX(CASE WHEN arm = 0 THEN n END) AS n0,
    MAX(CASE WHEN arm = 1 THEN k END) AS k1,
    MAX(CASE WHEN arm = 1 THEN n END) AS n1
  FROM cells JOIN tot USING (stratum) CROSS JOIN grand
  GROUP BY stratum, ns, n_all
)
SELECT CAST(SUM(k0) AS BIGINT) AS conv0,
  CAST(SUM(n0) AS BIGINT) AS users0,
  CAST(SUM(k1) AS BIGINT) AS conv1,
  CAST(SUM(n1) AS BIGINT) AS users1,
  ROUND(CAST(SUM(wdiff) AS DOUBLE), 6) AS stratified_lift
FROM per_stratum
"""


SPECS = [
    QuerySpec(
        "a_msprt_monitor",
        a_msprt_monitor,
        A_MSPRT_SQL,
        doc="per-day always-valid mSPRT likelihood monitor on md5 arms",
        tags=("experimentation", "stats"),
    ),
    QuerySpec(
        "e_quantization_error",
        e_quantization_error,
        E_QUANT_SQL,
        doc="scalar int8 quantization reconstruction MSE per label",
        tags=("embedding", "quality"),
    ),
    QuerySpec(
        "a_poststratified_lift",
        a_poststratified_lift,
        A_POSTSTRAT_SQL,
        doc="purchase-rate lift post-stratified over value quintiles",
        tags=("experimentation", "stats"),
    ),
]
