"""Ninetieth wave: minority oversampling, variance-homogeneity
testing, and graph threshold profiling.

Reference parity note: class rebalancing + robust variance testing +
graph construction tuning; every query carries an exact DuckDB
oracle.

- **Oversample minority** (`s_oversample_minority`) — the class-
  balance plan: per label, the integer replication factor
  ceil(max_count / count) and the resulting row count after
  replication — the deterministic blueprint an oversampling stage
  executes (the explode itself is one sequence() away).
- **Brown-Forsythe** (`a_brown_forsythe`) — variance homogeneity
  across md5 arms done robustly: the two-sample t statistic on
  absolute deviations from each arm's MEDIAN (percentile_disc —
  exact value selection).  The check that should precede any
  pooled-variance t-test.
- **Threshold profile** (`g_threshold_profile`) — co-purchase graph
  construction tuning: nodes, edges and density at co-occurrence
  floors 1..5, all from ONE co-occurrence aggregation bucketed by
  count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# s_oversample_minority
# ------------------------------------------------------------------ #


def s_oversample_minority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication plan balancing embedding labels to the majority
    count."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r9-opt (guide §2.4): counts feeds the max probe and the plan;
    # unstaged, the scan + rollup re-ran per consumer (2 duplicate
    # scans).  Label-cardinality staged frame.
    counts = _stage(emb.groupBy("label").agg(F.count("*").alias("n")))
    mx = counts.agg(F.max("n").alias("mx"))
    plan = counts.crossJoin(F.broadcast(mx)).select(
        "label",
        "n",
        # ceil(mx / n) in exact integers
        (
            (F.col("mx") + F.col("n") - 1) - F.pmod(
                F.col("mx") + F.col("n") - 1, F.col("n")
            )
        ).cast("long")
        .alias("_num"),
    ).select(
        "label",
        "n",
        (F.col("_num") / F.col("n")).cast("long").alias("replication"),
    )
    return plan.select(
        "label",
        "n",
        "replication",
        (F.col("n") * F.col("replication")).alias("n_after"),
    ).orderBy("label")


S_OVERSAMPLE_SQL = """
WITH counts AS (
  SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
),
mx AS (SELECT MAX(n) AS mx FROM counts)
SELECT label, CAST(n AS BIGINT) AS n,
  CAST((mx + n - 1) // n AS BIGINT) AS replication,
  CAST(n * ((mx + n - 1) // n) AS BIGINT) AS n_after
FROM counts CROSS JOIN mx
ORDER BY label
"""


# ------------------------------------------------------------------ #
# a_brown_forsythe
# ------------------------------------------------------------------ #


def a_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across md5 arms on
    user total value."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("double")
        .alias("tv")
    )
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
    # r9-opt (guide §2.4): armed feeds the per-arm median probe and
    # the deviation pass; unstaged, the events rollup re-ran per
    # consumer (2 duplicate scans).
    armed = _stage(per_user.select(arm.alias("g"), "tv"))
    med = armed.groupBy("g").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY tv)"
        ).alias("med")
    )
    devs = armed.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("tv") - F.col("med")).alias("z")
    )
    cells = devs.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("z").cast("decimal(27,6)")).alias("s"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,8)")).alias(
            "ss"
        ),
    ).select(
        "g",
        "n",
        F.col("s").cast("double").alias("s"),
        F.col("ss").cast("double").alias("ss"),
    )
    wide = cells.agg(
        *[
            F.max(F.when(F.col("g") == g, F.col(c))).alias(f"{c}{g}")
            for g in (0, 1)
            for c in ("n", "s", "ss")
        ]
    )

    def mean(g):
        return F.col(f"s{g}") / F.col(f"n{g}")

    def var(g):
        return (
            F.col(f"ss{g}") - F.col(f"s{g}") * mean(g)
        ) / (F.col(f"n{g}") - 1)

    t = (mean(1) - mean(0)) / F.sqrt(
        var(0) / F.col("n0") + var(1) / F.col("n1")
    )
    return wide.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(mean(0), 6).alias("mean_absdev_control"),
        F.round(mean(1), 6).alias("mean_absdev_treat"),
        F.round(t, 6).alias("bf_t"),
    )


A_BF_SQL = """
WITH per_user AS (
  SELECT user_id,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS tv
  FROM events GROUP BY user_id
),
armed AS (
  SELECT CAST(('0x' || substring(md5('arm:' ||
      CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g, tv
  FROM per_user
),
med AS (
  SELECT g, quantile_disc(tv, 0.5) AS med FROM armed GROUP BY g
),
devs AS (
  SELECT armed.g, ABS(tv - med) AS z
  FROM armed JOIN med ON armed.g = med.g
),
cells AS (
  SELECT g, COUNT(*) AS n,
    CAST(SUM(CAST(z AS DECIMAL(27,6))) AS DOUBLE) AS s,
    CAST(SUM(CAST(z * z AS DECIMAL(38,8))) AS DOUBLE) AS ss
  FROM devs GROUP BY g
),
wide AS (
  SELECT
    MAX(CASE WHEN g = 0 THEN n END) AS n0,
    MAX(CASE WHEN g = 0 THEN s END) AS s0,
    MAX(CASE WHEN g = 0 THEN ss END) AS ss0,
    MAX(CASE WHEN g = 1 THEN n END) AS n1,
    MAX(CASE WHEN g = 1 THEN s END) AS s1,
    MAX(CASE WHEN g = 1 THEN ss END) AS ss1
  FROM cells
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
  ROUND(s0 / n0, 6) AS mean_absdev_control,
  ROUND(s1 / n1, 6) AS mean_absdev_treat,
  ROUND((s1 / n1 - s0 / n0)
    / sqrt(((ss0 - s0 * (s0 / n0)) / (n0 - 1)) / n0
         + ((ss1 - s1 * (s1 / n1)) / (n1 - 1)) / n1), 6) AS bf_t
FROM wide
"""


# ------------------------------------------------------------------ #
# g_threshold_profile
# ------------------------------------------------------------------ #


def g_threshold_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes / edges / density of the co-purchase graph at
    co-occurrence floors 1..5 (one aggregation, bucketed)."""
    li = load_table(spark, sf_dir, "lineitem")
    from idn_area_etl_spark.operators.graph import co_purchase_edges

    # r8-opt: the edge build is the staged shared co-purchase
    # subtree (see co_purchase_edges) — previously re-expanded per
    # downstream consumer
    # min_co=1 is vacuous (count(*) >= 1), keeping the rollup unfiltered
    co = co_purchase_edges(li, min_co=1, keep_weight=True)
    floors = spark.createDataFrame(
        [(t,) for t in range(1, 6)], "floor int"
    )
    surv = co.crossJoin(F.broadcast(floors)).filter(
        F.col("co") >= F.col("floor")
    )
    nodes = (
        surv.select("floor", F.col("p1").alias("p"))
        .unionByName(surv.select("floor", F.col("p2").alias("p")))
        .groupBy("floor")
        .agg(F.countDistinct("p").alias("n_nodes"))
    )
    edges = surv.groupBy("floor").agg(F.count("*").alias("n_edges"))
    return (
        edges.join(nodes, "floor")
        .select(
            "floor",
            "n_edges",
            "n_nodes",
            F.round(
                2.0
                * F.col("n_edges").cast("double")
                / (
                    F.col("n_nodes").cast("double")
                    * (F.col("n_nodes") - 1)
                ),
                6,
            ).alias("density"),
        )
        .orderBy("floor")
    )


G_PROFILE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
co AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS co
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
floors AS (SELECT unnest(generate_series(1, 5)) AS floor),
surv AS (
  SELECT floor, p1, p2 FROM co CROSS JOIN floors WHERE co >= floor
),
nodes AS (
  SELECT floor, COUNT(DISTINCT p) AS n_nodes FROM (
    SELECT floor, p1 AS p FROM surv
    UNION ALL
    SELECT floor, p2 AS p FROM surv
  ) GROUP BY floor
),
edges AS (SELECT floor, COUNT(*) AS n_edges FROM surv GROUP BY floor)
SELECT e.floor, CAST(n_edges AS BIGINT) AS n_edges,
  CAST(n_nodes AS BIGINT) AS n_nodes,
  ROUND(2.0 * CAST(n_edges AS DOUBLE)
        / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1)), 6) AS density
FROM edges e JOIN nodes n ON e.floor = n.floor
ORDER BY e.floor
"""


SPECS = [
    QuerySpec(
        "s_oversample_minority",
        s_oversample_minority,
        S_OVERSAMPLE_SQL,
        doc="integer replication plan balancing labels to the majority",
        tags=("sampling", "dataset-prep"),
    ),
    QuerySpec(
        "a_brown_forsythe",
        a_brown_forsythe,
        A_BF_SQL,
        doc="Brown-Forsythe variance-homogeneity t across md5 arms",
        tags=("stats", "experimentation"),
    ),
    QuerySpec(
        "g_threshold_profile",
        g_threshold_profile,
        G_PROFILE_SQL,
        doc="graph nodes/edges/density at co-occurrence floors 1..5",
        tags=("graph",),
    ),
]
