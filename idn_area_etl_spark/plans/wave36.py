"""Thirty-sixth wave: link prediction, frequent itemset mining
(Apriori step), and recency-decay engagement scoring.

Reference parity note: engine-native graph/mining/scoring analytics;
every query carries an exact DuckDB oracle.

- **Link prediction** (`g_link_prediction`) — top candidate NEW
  edges of the co-order part graph by common-neighbor count: the
  two-hop enumeration (one equi-join on the shared endpoint — the
  triangle-counting shuffle) minus existing edges (anti join), top-k
  with deterministic tiebreaks.  The classic graph-completion
  primitive; candidate volume is bounded by Σ deg².
- **Frequent triples** (`a_frequent_triples`) — the Apriori L2→L3
  step: frequent pairs (support ≥ s) joined on a shared item to
  form candidate triples, counted against the basket table via a
  basket-keyed join.  Each stage is an equi-join; no powerset
  explosion — exactly how distributed frequent-itemset mining
  prunes.
- **Recency engagement** (`q_recency_engagement`) — per-user
  exponentially-decayed activity score Σ 2^(−age_days/half_life):
  the decay is a single per-row double expression via exp()
  (never pow() — its libm rounding differs across engines; exp/ln
  have matched bit-for-bit in every prior wave), the sum is
  decimal-cast — the standard "hotness" ranking
  that replaces arbitrary activity windows.  Top-20 users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# g_link_prediction
# ------------------------------------------------------------------ #

LINKPRED_MIN_SHARED = 2
LINKPRED_TOP_K = 20


def g_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top candidate new edges by common-neighbor count over the
    co-order part graph (edges = pairs co-ordered in ≥2 orders)."""
    li = load_table(spark, sf_dir, "lineitem")
    from idn_area_etl_spark.operators.graph import co_purchase_edges

    # r8-opt: the edge build is the staged shared co-purchase
    # subtree (see co_purchase_edges) — previously re-expanded per
    # downstream consumer
    edges = co_purchase_edges(li, min_co=LINKPRED_MIN_SHARED)
    sym = edges.unionAll(
        edges.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    # two-hop: u -mid- v with u < v
    left = sym.select(F.col("p1").alias("u"), F.col("p2").alias("mid"))
    right = sym.select(F.col("p1").alias("mid"), F.col("p2").alias("v"))
    two_hop = (
        left.join(right, "mid")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common_neighbors"))
    )
    candidates = two_hop.join(
        edges.withColumnRenamed("p1", "u").withColumnRenamed("p2", "v"),
        ["u", "v"],
        "left_anti",
    )
    return (
        candidates.orderBy(
            F.col("common_neighbors").desc(), "u", "v"
        )
        .limit(LINKPRED_TOP_K)
        .select("u", "v", "common_neighbors")
    )


G_LINKPRED_SQL = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT a.p AS p1, b.p AS p2
  FROM op a JOIN op b USING (ok)
  WHERE a.p < b.p GROUP BY 1, 2
  HAVING COUNT(*) >= {LINKPRED_MIN_SHARED}
),
sym AS (
  SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges
),
two_hop AS (
  SELECT l.p1 AS u, r.p2 AS v, COUNT(*) AS common_neighbors
  FROM sym l JOIN sym r ON l.p2 = r.p1
  WHERE l.p1 < r.p2
  GROUP BY 1, 2
)
SELECT t.u, t.v, CAST(t.common_neighbors AS BIGINT) AS common_neighbors
FROM two_hop t
ANTI JOIN edges e ON t.u = e.p1 AND t.v = e.p2
ORDER BY common_neighbors DESC, u, v
LIMIT {LINKPRED_TOP_K}
"""


# ------------------------------------------------------------------ #
# a_frequent_triples
# ------------------------------------------------------------------ #

TRIPLE_MIN_SUPPORT = 2
TRIPLE_TOP_K = 15


def a_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori L3: frequent part triples by basket (order) support."""
    li = load_table(spark, sf_dir, "lineitem")
    # r8-opt: the distinct basket list feeds FIVE consumers (both
    # pair-join sides + three support-count join probes) and the
    # frequent-pair rollup feeds two — unstaged, Catalyst re-ran the
    # scan → distinct per consumer (7 lineitem scans / 32 exchange
    # refs in the captured plan); staged, the corpus is scanned and
    # deduplicated once (guide §2.4).
    baskets = _stage(li.select("l_orderkey", "l_partkey").distinct())
    i1 = baskets.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a"))
    i2 = baskets.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("b"))
    i3 = baskets.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("c"))
    pairs = _stage(
        i1.join(i2, "ok")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("s2"))
        .filter(F.col("s2") >= TRIPLE_MIN_SUPPORT)
    )
    # candidate triples from two frequent pairs sharing the first item
    p1 = pairs.select("a", "b")
    p2 = pairs.select(F.col("a").alias("a"), F.col("b").alias("c"))
    cand = p1.join(p2, "a").filter(F.col("b") < F.col("c"))
    # count candidate support against baskets
    counted = (
        cand.join(i1, cand.a == i1.a)
        .select("ok", cand.a.alias("a"), "b", "c")
        .join(i2, ["ok", "b"])
        .join(i3, ["ok", "c"])
        .groupBy("a", "b", "c")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= TRIPLE_MIN_SUPPORT)
    )
    return (
        counted.orderBy(F.col("support").desc(), "a", "b", "c")
        .limit(TRIPLE_TOP_K)
    )


A_TRIPLES_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
pairs AS (
  SELECT a.p AS a, b.p AS b, COUNT(*) AS s2
  FROM baskets a JOIN baskets b USING (ok)
  WHERE a.p < b.p GROUP BY 1, 2
  HAVING COUNT(*) >= {TRIPLE_MIN_SUPPORT}
),
cand AS (
  SELECT p1.a, p1.b, p2.b AS c
  FROM pairs p1 JOIN pairs p2 ON p1.a = p2.a
  WHERE p1.b < p2.b
),
counted AS (
  SELECT cand.a, cand.b, cand.c, COUNT(*) AS support
  FROM cand
  JOIN baskets x ON x.p = cand.a
  JOIN baskets y ON y.ok = x.ok AND y.p = cand.b
  JOIN baskets z ON z.ok = x.ok AND z.p = cand.c
  GROUP BY 1, 2, 3
  HAVING COUNT(*) >= {TRIPLE_MIN_SUPPORT}
)
SELECT a, b, c, CAST(support AS BIGINT) AS support
FROM counted
ORDER BY support DESC, a, b, c
LIMIT {TRIPLE_TOP_K}
"""


# ------------------------------------------------------------------ #
# q_recency_engagement
# ------------------------------------------------------------------ #

HALF_LIFE_DAYS = 7.0
ENGAGE_TOP_K = 20


def q_recency_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top users by exponentially-decayed activity score."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.3/§2.4): events with equal (user, day) share
    # one decay weight, so the score is computed on the staged
    # (user, day, cnt) rollup — the horizon derives from the same
    # rollup (max over days present = the global max date) instead of
    # a second full scan, and the decayed sum is cnt exact-decimal
    # copies of the identical per-day weight (sum of cnt copies of a
    # decimal = the decimal × cnt, exactly).
    from idn_area_etl_spark.operators.stage import _stage

    ud = _stage(
        ev.groupBy(
            "user_id", F.to_date("ts").alias("day")
        ).agg(F.count("*").alias("cnt"))
    )
    horizon = ud.agg(F.max("day").alias("horizon"))
    scored = ud.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "cnt",
        F.exp(
            -F.datediff("horizon", F.col("day")).cast("double")
            * F.lit(0.6931471805599453)
            / F.lit(HALF_LIFE_DAYS)
        ).alias("w"),
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.round(
                # cnt cast to decimal(13,0) keeps the product at
                # decimal(38,12) — EXACT (a bare long multiplicand
                # pushes precision past 38 and Spark silently reduces
                # the scale to 6)
                F.sum(
                    F.col("w").cast("decimal(24,12)")
                    * F.col("cnt").cast("decimal(13,0)")
                ).cast("double"),
                6,
            ).alias("engagement"),
        )
        .orderBy(F.col("engagement").desc(), "user_id")
        .limit(ENGAGE_TOP_K)
    )


Q_ENGAGE_SQL = f"""
WITH horizon AS (SELECT MAX(CAST(ts AS DATE)) AS horizon FROM events),
scored AS (
  SELECT user_id,
    EXP(-CAST(date_diff('day', CAST(ts AS DATE), horizon) AS DOUBLE)
        * 0.6931471805599453 / {HALF_LIFE_DAYS}) AS w
  FROM events CROSS JOIN horizon
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  ROUND(CAST(SUM(CAST(w AS DECIMAL(24,12))) AS DOUBLE), 6)
    AS engagement
FROM scored GROUP BY user_id
ORDER BY engagement DESC, user_id
LIMIT {ENGAGE_TOP_K}
"""


SPECS = [
    QuerySpec(
        "g_link_prediction",
        g_link_prediction,
        G_LINKPRED_SQL,
        doc="top new-edge candidates by common neighbors (2-hop minus edges)",
        tags=("graph", "mining"),
    ),
    QuerySpec(
        "a_frequent_triples",
        a_frequent_triples,
        A_TRIPLES_SQL,
        doc="Apriori L3 frequent part triples by basket support",
        tags=("mining",),
    ),
    QuerySpec(
        "q_recency_engagement",
        q_recency_engagement,
        Q_ENGAGE_SQL,
        doc="exponentially-decayed per-user engagement, top-20",
        tags=("events", "scoring"),
    ),
]
