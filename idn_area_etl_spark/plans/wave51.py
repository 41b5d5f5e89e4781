"""Fifty-first wave: exact Shapley attribution, TOST equivalence,
and burstiness profiling.

Reference parity note: marketing-science + experimentation +
event-statistics extensions; every query carries an exact DuckDB
oracle.

- **Shapley attribution** (`a_shapley_attribution`) — EXACT Shapley
  values over the 4 non-purchase channels (click/view/signup/
  error): each user contributes their exposed-channel bitmask, the
  16 coalition values v(S) = conversion rate of users whose mask is
  contained in S come from one 16-row mask rollup joined to a
  literal subset lattice (bitwise containment — never a scan of the
  events again), and the Shapley sum uses exact factorial weights.
  The whole computation after the per-user mask reduce is
  constant-size (16 x 16), so it costs one user-keyed aggregation
  at any corpus scale.
- **TOST equivalence** (`q_tost_equivalence`) — two one-sided
  z-tests on md5-split arms' mean event value with a +/-2%-of-
  pooled-mean margin: the "no worse AND no better than delta"
  complement of the wave-20 Welch difference test.
- **Burstiness** (`d_event_burstiness`) — index of dispersion
  (variance-to-mean, Fano factor) of hourly event counts per type,
  from pure integer sums; flags over-dispersed (bursty) streams the
  way pipeline monitors do.
"""

from __future__ import annotations

from math import factorial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

_CHANNELS = ("click", "error", "signup", "view")  # bit i = channel i


# ------------------------------------------------------------------ #
# a_shapley_attribution
# ------------------------------------------------------------------ #


def _shapley_weight(s_size: int, n: int) -> float:
    return (
        factorial(s_size) * factorial(n - 1 - s_size) / factorial(n)
    )


def a_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley conversion credit per channel over the 4-channel
    coalition lattice."""
    ev = load_table(spark, sf_dir, "events")
    bit = None
    for i, ch in enumerate(_CHANNELS):
        term = F.when(
            F.max((F.col("event_type") == ch).cast("int")) == 1,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        bit = term if bit is None else bit + term
    per_user = ev.groupBy("user_id").agg(
        bit.alias("mask"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "conv"
        ),
    )
    # r8-opt: masks (<=16 rows) and vs (16 rows) are staged — the
    # per-channel Shapley aggregates below re-ran the events scan +
    # per-user rollup once per channel (4 scans / 16 exchanges in the
    # captured plan); staged, the corpus is rolled up once.
    masks = _stage(
        per_user.groupBy("mask").agg(
            F.count("*").alias("n"), F.sum("conv").alias("k")
        )
    )
    # literal subset lattice: one row per coalition S
    lattice = spark.range(16).select(F.col("id").cast("int").alias("s"))
    # v(S): conversion rate of users whose mask is contained in S
    vs = _stage(
        lattice.join(
            F.broadcast(masks),
            F.bitwise_not(F.col("s")).bitwiseAND(F.col("mask")) == 0,
            "left",
        )
        .groupBy("s")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_sub"),
            F.coalesce(F.sum("k"), F.lit(0)).alias("k_sub"),
        )
        .select(
            "s",
            F.when(
                F.col("n_sub") > 0,
                F.col("k_sub").cast("double") / F.col("n_sub"),
            )
            .otherwise(F.lit(0.0))
            .alias("v"),
        )
    )
    n_ch = len(_CHANNELS)
    rows = []
    for i, ch in enumerate(_CHANNELS):
        contrib = None
        for s in range(16):
            if s & (1 << i):
                continue
            w = _shapley_weight(bin(s).count("1"), n_ch)
            term = F.lit(w) * (
                F.max(
                    F.when(F.col("s") == (s | (1 << i)), F.col("v"))
                ).cast("double")
                - F.max(F.when(F.col("s") == s, F.col("v"))).cast("double")
            )
            contrib = term if contrib is None else contrib + term
        rows.append(
            vs.agg(
                F.lit(ch).alias("channel"),
                F.round(contrib, 6).alias("shapley"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("channel")


def _shapley_sql() -> str:
    n_ch = len(_CHANNELS)
    mask_bits = " + ".join(
        f"CASE WHEN MAX(CASE WHEN event_type = '{ch}' THEN 1 ELSE 0 END)"
        f" = 1 THEN {1 << i} ELSE 0 END"
        for i, ch in enumerate(_CHANNELS)
    )
    chan_terms = []
    for i, ch in enumerate(_CHANNELS):
        parts = []
        for s in range(16):
            if s & (1 << i):
                continue
            w = _shapley_weight(bin(s).count("1"), n_ch)
            parts.append(
                f"({w!r}) * ("
                f"MAX(CASE WHEN s = {s | (1 << i)} THEN v END)"
                f" - MAX(CASE WHEN s = {s} THEN v END))"
            )
        chan_terms.append(
            f"SELECT '{ch}' AS channel, ROUND("
            + " + ".join(parts)
            + ", 6) AS shapley FROM vs"
        )
    union = "\nUNION ALL\n".join(chan_terms)
    return f"""
WITH per_user AS (
  SELECT user_id, {mask_bits} AS mask,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
masks AS (
  SELECT mask, COUNT(*) AS n, SUM(conv) AS k
  FROM per_user GROUP BY mask
),
lattice AS (SELECT unnest(generate_series(0, 15)) AS s),
vs AS (
  SELECT s,
    CASE WHEN COALESCE(SUM(n), 0) > 0
      THEN CAST(COALESCE(SUM(k), 0) AS DOUBLE) / SUM(n)
      ELSE 0.0 END AS v
  FROM lattice LEFT JOIN masks ON (~s) & mask = 0
  GROUP BY s
)
SELECT * FROM ({union}) ORDER BY channel
"""


# ------------------------------------------------------------------ #
# q_tost_equivalence
# ------------------------------------------------------------------ #


def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence of mean event value across md5 arms with a
    +/-2%-of-pooled-mean margin (z approximation)."""
    ev = load_table(spark, sf_dir, "events")
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
    armed = ev.select(arm.alias("arm"), "value")
    # r9-opt (guide §2.4): stats feeds both arm legs; unstaged, the
    # events scan + rollup re-ran per consumer (2 duplicate scans).
    # 2-row staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    stats = _stage(
        armed.groupBy("arm").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
            F.sum(
                (F.col("value") * F.col("value")).cast("decimal(38,10)")
            ).alias("ss"),
        )
    )
    a = stats.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"),
        F.col("s").cast("double").alias("s0"),
        F.col("ss").cast("double").alias("ss0"),
    )
    b = stats.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"),
        F.col("s").cast("double").alias("s1"),
        F.col("ss").cast("double").alias("ss1"),
    )
    j = a.crossJoin(b)
    m0 = F.col("s0") / F.col("n0")
    m1 = F.col("s1") / F.col("n1")
    var0 = (F.col("ss0") - F.col("s0") * m0) / (F.col("n0") - 1)
    var1 = (F.col("ss1") - F.col("s1") * m1) / (F.col("n1") - 1)
    se = F.sqrt(var0 / F.col("n0") + var1 / F.col("n1"))
    pooled_mean = (F.col("s0") + F.col("s1")) / (F.col("n0") + F.col("n1"))
    delta = 0.02 * pooled_mean
    diff = m1 - m0
    z_lo = (diff + delta) / se
    z_hi = (diff - delta) / se
    zc = F.lit(1.644854)
    return j.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(diff, 6).alias("mean_diff"),
        F.round(delta, 6).alias("margin"),
        F.round(z_lo, 6).alias("z_lower"),
        F.round(z_hi, 6).alias("z_upper"),
        ((z_lo > zc) & (z_hi < -zc)).alias("equivalent"),
    )


Q_TOST_SQL = """
WITH armed AS (
  SELECT CAST(('0x' || substring(md5('arm:' || CAST(user_id AS VARCHAR)),
                                 1, 13)) AS UBIGINT) % 2 AS arm,
    value
  FROM events
),
stats AS (
  SELECT arm, COUNT(*) AS n,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s,
    CAST(SUM(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE) AS ss
  FROM armed GROUP BY arm
),
j AS (
  SELECT a.n AS n0, a.s AS s0, a.ss AS ss0,
         b.n AS n1, b.s AS s1, b.ss AS ss1
  FROM (SELECT * FROM stats WHERE arm = 0) a
  CROSS JOIN (SELECT * FROM stats WHERE arm = 1) b
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
  ROUND(s1 / n1 - s0 / n0, 6) AS mean_diff,
  ROUND(0.02 * ((s0 + s1) / (n0 + n1)), 6) AS margin,
  ROUND((s1 / n1 - s0 / n0 + 0.02 * ((s0 + s1) / (n0 + n1)))
    / sqrt((ss0 - s0 * (s0 / n0)) / (n0 - 1) / n0
           + (ss1 - s1 * (s1 / n1)) / (n1 - 1) / n1), 6) AS z_lower,
  ROUND((s1 / n1 - s0 / n0 - 0.02 * ((s0 + s1) / (n0 + n1)))
    / sqrt((ss0 - s0 * (s0 / n0)) / (n0 - 1) / n0
           + (ss1 - s1 * (s1 / n1)) / (n1 - 1) / n1), 6) AS z_upper,
  ((s1 / n1 - s0 / n0 + 0.02 * ((s0 + s1) / (n0 + n1)))
    / sqrt((ss0 - s0 * (s0 / n0)) / (n0 - 1) / n0
           + (ss1 - s1 * (s1 / n1)) / (n1 - 1) / n1) > 1.644854
   AND
   (s1 / n1 - s0 / n0 - 0.02 * ((s0 + s1) / (n0 + n1)))
    / sqrt((ss0 - s0 * (s0 / n0)) / (n0 - 1) / n0
           + (ss1 - s1 * (s1 / n1)) / (n1 - 1) / n1) < -1.644854)
    AS equivalent
FROM j
"""


# ------------------------------------------------------------------ #
# d_event_burstiness
# ------------------------------------------------------------------ #


def d_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean) of hourly counts per event type."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    n = F.col("n_hours").cast("double")
    mean = F.col("sc").cast("double") / n
    var = F.col("scc").cast("double") / n - mean * mean
    return stats.select(
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(var / mean, 6).alias("fano"),
    ).orderBy("event_type")


D_BURST_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS n_hours, SUM(c) AS sc,
    SUM(c * c) AS scc
  FROM hourly GROUP BY event_type
)
SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
  ROUND(CAST(sc AS DOUBLE) / n_hours, 6) AS mean_per_hour,
  ROUND((CAST(scc AS DOUBLE) / n_hours
         - (CAST(sc AS DOUBLE) / n_hours) * (CAST(sc AS DOUBLE) / n_hours))
        / (CAST(sc AS DOUBLE) / n_hours), 6) AS fano
FROM stats ORDER BY event_type
"""


SPECS = [
    QuerySpec(
        "a_shapley_attribution",
        a_shapley_attribution,
        _shapley_sql(),
        doc="exact 4-channel Shapley conversion credit via mask lattice",
        tags=("experimentation", "attribution"),
    ),
    QuerySpec(
        "q_tost_equivalence",
        q_tost_equivalence,
        Q_TOST_SQL,
        doc="TOST equivalence z-tests on md5 arms, 2% margin",
        tags=("experimentation", "stats"),
    ),
    QuerySpec(
        "d_event_burstiness",
        d_event_burstiness,
        D_BURST_SQL,
        doc="Fano factor of hourly event counts per type",
        tags=("events", "stats"),
    ),
]
