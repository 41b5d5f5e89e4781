"""Eighteenth wave: skyline queries, robust outliers, label
propagation.

- **Skyline (Pareto frontier)** — customers not dominated on
  (account balance, lifetime spend).  The naive formulation is an
  O(n²) NOT EXISTS (that's exactly what the DuckDB oracle runs); the
  engine computes it with the sort-based sweep: per-balance-level
  maxima, then a running max over strictly-higher levels — two tiny
  window passes over the aggregated level table, no self-join at
  all.  The classic example of replacing a quadratic dominance join
  with O(n log n) at scale.
- **MAD robust outliers** — median absolute deviation, the
  outlier screen that survives heavy tails (unlike z-scores whose
  mean/stddev the outliers themselves corrupt).  Two exact-percentile
  passes; med/mad rounded at 6 dp so both engines threshold
  identically.
- **Label propagation (3 synchronous rounds)** — community detection
  on the part co-order graph: each node adopts its neighborhood's
  most frequent label (ties → smallest label, making every round
  deterministic).  Per round: one O(|E|) equi-join + count + argmax
  window — same shuffle economics as PageRank; the oracle unrolls
  identical rounds in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import global_running_max
from idn_area_etl_spark.operators.stage import _release, _round
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


def q_skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal customers on (c_acctbal, total spend).

    Dominance: a beats b iff a.bal >= b.bal AND a.spend >= b.spend
    with at least one strict.  Sweep: a customer is on the skyline
    iff their spend equals their balance-level's best spend AND that
    best strictly exceeds every strictly-higher level's best.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
        .cast("double")
        .alias("spend")
    )
    pts = (
        c.select(F.col("c_custkey").alias("custkey"), F.col("c_acctbal").alias("bal"))
        .join(spend, "custkey", "left")
        .withColumn("spend", F.coalesce("spend", F.lit(0.0)))
    )
    levels = pts.groupBy("bal").agg(F.max("spend").alias("best_spend"))
    # distinct balance levels are data-dependent — running best via the
    # distributed range-partitioned primitive, not a global window
    lv = global_running_max(
        levels,
        [F.col("bal").desc()],
        F.col("best_spend"),
        out="prev_best",
        inclusive=False,
    ).withColumn(
        "level_ok",
        F.col("prev_best").isNull()
        | (F.col("best_spend") > F.col("prev_best")),
    )
    return (
        pts.join(F.broadcast(lv.filter("level_ok").select("bal", "best_spend")), "bal")
        .filter(F.col("spend") == F.col("best_spend"))
        .select("custkey", "bal", "spend")
        .orderBy(F.col("bal").desc(), "custkey")
    )


Q_SKYLINE_SQL = """
WITH spend AS (
  SELECT o_custkey AS custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS spend
  FROM orders GROUP BY 1
),
pts AS (
  SELECT c.c_custkey AS custkey, c.c_acctbal AS bal,
    COALESCE(s.spend, 0.0) AS spend
  FROM customer c LEFT JOIN spend s ON s.custkey = c.c_custkey
)
SELECT p.custkey, p.bal, p.spend
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.bal >= p.bal AND q.spend >= p.spend
    AND (q.bal > p.bal OR q.spend > p.spend)
)
ORDER BY p.bal DESC, p.custkey
"""


MAD_K = 3.0


def _discrete_median(df: DataFrame, col, out: str) -> DataFrame:
    """One-row frame holding the DISCRETE global median of ``col`` —
    the stored element at rank ⌈n/2⌉, selected via distributed running
    counts over the distinct-value rollup (r7: never oracle-compare a
    cross-engine float-interpolated percentile; a stored double is
    bit-identical in both engines with zero arithmetic between them,
    and the rollup rank selection has no single-task window)."""
    from idn_area_etl_spark.operators.ranks import global_running_multi

    rolled = df.select(col.alias("_v")).groupBy("_v").agg(
        F.count("*").alias("_cnt")
    )
    run = global_running_multi(rolled, [F.col("_v")], {"c": F.col("_cnt")})
    t = F.expr("(tot_c + 1) div 2")
    return run.filter(
        (F.col("cum_c") - F.col("_cnt") < t) & (t <= F.col("cum_c"))
    ).select(F.col("_v").alias(out))


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type outlier share under the 3×MAD robust screen.

    med and mad are DISCRETE global medians (stored elements at rank
    ⌈n/2⌉) — emitted and thresholded as raw doubles, so both engines
    compare against bit-identical values with no interpolation
    arithmetic to diverge (the r6 a_quantile_sketch red-row class).
    """
    ev = load_table(spark, sf_dir, "events")
    stats = _discrete_median(ev, F.col("value"), "med")
    with_med = ev.crossJoin(F.broadcast(stats))
    mad_row = _discrete_median(
        with_med, F.abs(F.col("value") - F.col("med")), "mad"
    )
    full = with_med.crossJoin(F.broadcast(mad_row))
    return (
        full.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(MAD_K) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
        )
        .withColumn(
            "outlier_share",
            F.round(
                F.col("n_outliers").cast("double") / F.col("n").cast("double"),
                6,
            ),
        )
        .orderBy("event_type")
    )


Q_MAD_SQL = f"""
WITH r1 AS (
  SELECT value, row_number() OVER (ORDER BY value) AS rn,
    COUNT(*) OVER () AS n
  FROM events
),
med AS (SELECT value AS med FROM r1 WHERE rn = (n + 1) // 2),
r2 AS (
  SELECT ABS(value - med) AS d,
    row_number() OVER (ORDER BY ABS(value - med)) AS rn,
    COUNT(*) OVER () AS n
  FROM events CROSS JOIN med
),
mad AS (SELECT d AS mad FROM r2 WHERE rn = (n + 1) // 2)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN ABS(value - med) > {MAD_K} * mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  ANY_VALUE(med) AS med,
  ANY_VALUE(mad) AS mad,
  ROUND(CAST(SUM(CASE WHEN ABS(value - med) > {MAD_K} * mad
                      THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_share
FROM events CROSS JOIN med CROSS JOIN mad
GROUP BY event_type
ORDER BY event_type
"""


LPA_ITERS = 3
LPA_MIN_SHARED = 2


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    und = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= LPA_MIN_SHARED)
        .select("p1", "p2")
    )
    return und.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionAll(
        und.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )


def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes after 3 synchronous LPA rounds on the part
    co-order graph (most-frequent neighbor label, ties → smallest)."""
    edges, _ = _round(_lpa_edges(spark, sf_dir))
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ITERS):
        neigh = edges.join(
            labels, edges.dst == labels.node
        ).select(F.col("src").alias("v"), "label")
        counts = neigh.groupBy("v", "label").agg(F.count("*").alias("cnt"))
        w = Window.partitionBy("v").orderBy(F.col("cnt").desc(), F.col("label"))
        labels, _ = _round(
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("node"), "label"),
            prev=labels,
        )
    _release(edges)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("community_size"))
        .orderBy(F.col("community_size").desc(), "label")
        .limit(30)
    )


def _lpa_sql(iters: int = LPA_ITERS) -> str:
    base = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
und AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {LPA_MIN_SHARED}
),
edges AS (
  SELECT p1 AS src, p2 AS dst FROM und
  UNION ALL SELECT p2, p1 FROM und
),
l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
)"""
    prev = "l0"
    ctes = [base]
    for i in range(1, iters + 1):
        ctes.append(f""",
c{i} AS (
  SELECT e.src AS v, l.label, COUNT(*) AS cnt
  FROM edges e JOIN {prev} l ON l.node = e.dst
  GROUP BY 1, 2
),
l{i} AS (
  SELECT v AS node, label FROM (
    SELECT v, label,
      ROW_NUMBER() OVER (PARTITION BY v
                         ORDER BY cnt DESC, label) AS rn
    FROM c{i}
  ) WHERE rn = 1
)""")
        prev = f"l{i}"
    ctes.append(f"""
SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
FROM {prev}
GROUP BY label
ORDER BY community_size DESC, label
LIMIT 30
""")
    return "".join(ctes)


SPECS = [
    QuerySpec("q_skyline_customers", q_skyline_customers, Q_SKYLINE_SQL,
              doc="Pareto skyline via level sweep (oracle = NOT EXISTS dominance)",
              tags=("analytics",)),
    QuerySpec("q_mad_outliers", q_mad_outliers, Q_MAD_SQL,
              doc="median-absolute-deviation robust outlier screen",
              tags=("stats",)),
    QuerySpec("g_label_propagation", g_label_propagation, _lpa_sql(),
              doc="3-round deterministic label propagation communities",
              tags=("graph",)),
]
