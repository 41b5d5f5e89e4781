"""Ninety-second wave: covariate balance and the rich-club
coefficient.

Reference parity note: causal-design diagnostics + elite graph
structure; every query carries an exact DuckDB oracle.

- **Covariate balance** (`a_covariate_balance`) — the standardized
  mean difference (SMD) table every matching/randomization report
  leads with: for three pre-period covariates (pre-cutoff value,
  event count, active days), SMD = (m1 - m0) / sqrt((v0 + v1)/2)
  across md5 arms; |SMD| < 0.1 is the conventional balance bar.
- **Rich club** (`g_rich_club`) — do high-degree parts stick
  together?  The density among nodes of degree >= k (k = 5, 10,
  15) vs the whole-graph density; a ratio > 1 signals an elite
  club.  Degrees come from one aggregation; club edges from a
  semi-filtered edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_covariate_balance
# ------------------------------------------------------------------ #

_COVS = ("pre_value", "n_events", "n_days")


def a_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMD of three pre-period covariates across md5 arms."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    pre = ev.filter(F.to_date("ts") < cut)
    # r9-opt (guide §2.4): the three-covariate long-form union reads
    # per_user three times; unstaged, the events scan + per-user
    # rollup re-ran per leg (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    per_user = _stage(
        pre.groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("pre_value"),
            F.count("*").cast("double").alias("n_events"),
            F.countDistinct(F.to_date("ts")).cast("double").alias("n_days"),
        )
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
    armed = per_user.select(arm.alias("g"), *_COVS)
    # long form: one row per (covariate, arm) cell
    stacked = None
    for c in _COVS:
        part = armed.select(
            F.lit(c).alias("covariate"), "g", F.col(c).alias("x")
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    cells = stacked.groupBy("covariate", "g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(27,6)")).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,8)")).alias(
            "ss"
        ),
    ).select(
        "covariate",
        "g",
        "n",
        F.col("s").cast("double").alias("s"),
        F.col("ss").cast("double").alias("ss"),
    )
    wide = cells.groupBy("covariate").agg(
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

    smd = (mean(1) - mean(0)) / F.sqrt((var(0) + var(1)) / 2.0)
    return wide.select(
        "covariate",
        F.round(mean(0), 6).alias("mean_control"),
        F.round(mean(1), 6).alias("mean_treat"),
        F.round(smd, 6).alias("smd"),
        (F.abs(smd) < 0.1).alias("balanced"),
    ).orderBy("covariate")


A_BALANCE_SQL = """
WITH per_user AS (
  SELECT user_id,
    CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS pre_value,
    CAST(COUNT(*) AS DOUBLE) AS n_events,
    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS n_days
  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
  GROUP BY user_id
),
armed AS (
  SELECT CAST(('0x' || substring(md5('arm:' ||
      CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g,
    pre_value, n_events, n_days
  FROM per_user
),
stacked AS (
  SELECT 'pre_value' AS covariate, g, pre_value AS x FROM armed
  UNION ALL
  SELECT 'n_events' AS covariate, g, n_events AS x FROM armed
  UNION ALL
  SELECT 'n_days' AS covariate, g, n_days AS x FROM armed
),
cells AS (
  SELECT covariate, g, COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS s,
    CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS ss
  FROM stacked GROUP BY 1, 2
),
wide AS (
  SELECT covariate,
    MAX(CASE WHEN g = 0 THEN n END) AS n0,
    MAX(CASE WHEN g = 0 THEN s END) AS s0,
    MAX(CASE WHEN g = 0 THEN ss END) AS ss0,
    MAX(CASE WHEN g = 1 THEN n END) AS n1,
    MAX(CASE WHEN g = 1 THEN s END) AS s1,
    MAX(CASE WHEN g = 1 THEN ss END) AS ss1
  FROM cells GROUP BY covariate
)
SELECT covariate,
  ROUND(s0 / n0, 6) AS mean_control,
  ROUND(s1 / n1, 6) AS mean_treat,
  ROUND((s1 / n1 - s0 / n0)
    / sqrt((((ss0 - s0 * (s0 / n0)) / (n0 - 1))
          + ((ss1 - s1 * (s1 / n1)) / (n1 - 1))) / 2.0), 6) AS smd,
  (ABS((s1 / n1 - s0 / n0)
    / sqrt((((ss0 - s0 * (s0 / n0)) / (n0 - 1))
          + ((ss1 - s1 * (s1 / n1)) / (n1 - 1))) / 2.0)) < 0.1)
    AS balanced
FROM wide ORDER BY covariate
"""


# ------------------------------------------------------------------ #
# g_rich_club
# ------------------------------------------------------------------ #


def g_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club density ratio among nodes of degree >= k."""
    li = load_table(spark, sf_dir, "lineitem")
    from idn_area_etl_spark.operators.graph import co_purchase_edges

    # r8-opt: the edge build is the staged shared co-purchase
    # subtree (see co_purchase_edges) — previously re-expanded per
    # downstream consumer
    edges = co_purchase_edges(li, min_co=2)
    adj = edges.unionByName(
        edges.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    deg = adj.groupBy("p1").agg(F.count("*").alias("deg")).select(
        F.col("p1").alias("p"), "deg"
    )
    glob_stats = edges.agg(F.count("*").alias("m")).crossJoin(
        deg.agg(F.count("*").alias("nn"))
    )
    ks = spark.createDataFrame([(5,), (10,), (15,)], "k int")
    club_nodes = deg.crossJoin(F.broadcast(ks)).filter(
        F.col("deg") >= F.col("k")
    ).select("k", "p")
    c1 = club_nodes.select("k", F.col("p").alias("p1"))
    c2 = club_nodes.select("k", F.col("p").alias("p2"))
    club_edges = (
        edges.join(c1, "p1")
        .join(c2, ["k", "p2"])
        .groupBy("k")
        .agg(F.count("*").alias("m_club"))
    )
    club_sizes = club_nodes.groupBy("k").agg(
        F.count("*").alias("n_club")
    )
    dens = (
        club_sizes.join(club_edges, "k", "left")
        .crossJoin(F.broadcast(glob_stats))
        .filter(F.col("n_club") >= 2)
        .select(
            "k",
            "n_club",
            F.coalesce("m_club", F.lit(0)).alias("m_club"),
            F.round(
                (
                    2.0
                    * F.coalesce("m_club", F.lit(0)).cast("double")
                    / (
                        F.col("n_club").cast("double")
                        * (F.col("n_club") - 1)
                    )
                )
                / (
                    2.0
                    * F.col("m").cast("double")
                    / (F.col("nn").cast("double") * (F.col("nn") - 1))
                ),
                6,
            ).alias("rich_club_ratio"),
        )
    )
    return dens.orderBy("k")


G_RICHCLUB_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
adj AS (
  SELECT p1, p2 FROM edges
  UNION ALL
  SELECT p2 AS p1, p1 AS p2 FROM edges
),
deg AS (SELECT p1 AS p, COUNT(*) AS deg FROM adj GROUP BY p1),
gstats AS (
  SELECT (SELECT COUNT(*) FROM edges) AS m,
    (SELECT COUNT(*) FROM deg) AS nn
),
ks AS (SELECT unnest([5, 10, 15]) AS k),
club_nodes AS (
  SELECT k, p FROM deg CROSS JOIN ks WHERE deg >= k
),
club_edges AS (
  SELECT c1.k, COUNT(*) AS m_club
  FROM edges
  JOIN club_nodes c1 ON edges.p1 = c1.p
  JOIN club_nodes c2 ON edges.p2 = c2.p AND c1.k = c2.k
  GROUP BY c1.k
),
club_sizes AS (
  SELECT k, COUNT(*) AS n_club FROM club_nodes GROUP BY k
)
SELECT s.k, CAST(n_club AS BIGINT) AS n_club,
  CAST(COALESCE(m_club, 0) AS BIGINT) AS m_club,
  ROUND((2.0 * COALESCE(m_club, 0)
      / (CAST(n_club AS DOUBLE) * (n_club - 1)))
    / (2.0 * m / (CAST(nn AS DOUBLE) * (nn - 1))), 6)
    AS rich_club_ratio
FROM club_sizes s
LEFT JOIN club_edges e ON s.k = e.k
CROSS JOIN gstats
WHERE n_club >= 2
ORDER BY s.k
"""


SPECS = [
    QuerySpec(
        "a_covariate_balance",
        a_covariate_balance,
        A_BALANCE_SQL,
        doc="SMD balance table of pre-period covariates across arms",
        tags=("experimentation", "stats"),
    ),
    QuerySpec(
        "g_rich_club",
        g_rich_club,
        G_RICHCLUB_SQL,
        doc="rich-club density ratio among degree >= k nodes",
        tags=("graph",),
    ),
]
