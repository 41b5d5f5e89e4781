"""Sixteenth wave: sliding windows, market-basket rules, CDC
tombstones, product-quantization ANN.

- **Sliding event-time windows** — `F.window(ts, "2 hours", "1 hour")`
  overlapping distinct-user counts; the oracle replays Spark's
  epoch-aligned window semantics with an hourly series + range join.
- **Association rules** — order-basket co-occurrence → support /
  confidence / lift.  Counts are integers; confidence and lift are
  single per-row double divisions → exact oracle.  The pair join is
  keyed on the basket (order) id and the item sides are pre-pruned to
  frequent parts, so the shuffle carries only qualifying pairs.
- **CDC with delete tombstones** — latest-wins upsert where an
  'error' event acts as a DELETE: the merge semantics of a change
  stream compacted into current state.
- **PQ ANN** (`operators/pq.py`) — per-subspace codebooks, long-form
  int codes, broadcast ADC tables; rows-only driver check (k-means
  codebooks aren't SQL-replicable), recall + structure certified in
  pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.pq import pq_encode, pq_fit, pq_topk_reranked
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


def q_sliding_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per 2-hour window sliding hourly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_users",
        )
        .orderBy("win_start")
    )


Q_SLIDING_SQL = """
WITH bounds AS (
  SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) - INTERVAL 1 HOUR
           AS lo,
         CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
  FROM events
),
starts AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS win_start
  FROM bounds
),
win AS (
  SELECT s.win_start, s.win_start + INTERVAL 2 HOUR AS win_end,
         COUNT(DISTINCT e.user_id) AS n_users
  FROM starts s JOIN events e
    ON e.ts >= s.win_start AND e.ts < s.win_start + INTERVAL 2 HOUR
  GROUP BY 1, 2
)
SELECT win_start, win_end, CAST(n_users AS BIGINT) AS n_users
FROM win ORDER BY win_start
"""


RULE_MIN_PAIR = 3
RULE_TOP = 100


def a_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top association rules part_a → part_b over order baskets.

    support(a,b) = co-order count, confidence = n_ab / n_a,
    lift = confidence / (n_b / N).  Rules emitted both directions
    from each unordered co-occurrence pair.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # r8-opt: the distinct basket list feeds four consumers (basket
    # count, item counts, both pair-join sides) — unstaged, Catalyst
    # re-ran scan → distinct per consumer (6 lineitem scans / 28
    # exchange refs in the captured plan); staged it runs once
    # (guide §2.4).  The basket count is a LAZY 1-row crossJoin
    # instead of an eager driver .count() at plan-build time (the
    # a_rec_coverage pattern): the eager count ran a full scan
    # OUTSIDE the timed action and re-ran on every builder() call.
    baskets = _stage(li.select("l_orderkey", "l_partkey").distinct())
    n_df = baskets.select(
        F.countDistinct("l_orderkey").alias("_n_orders")
    )
    # r9-opt (VERDICT r8 item 5): item_counts feeds BOTH the n_a and
    # n_b joins — unstaged, each join re-aggregated the staged baskets
    # (one extra vocabulary-scale shuffle); staged, the rollup runs
    # once (guide §2.4).
    item_counts = _stage(
        baskets.groupBy(F.col("l_partkey").alias("part")).agg(
            F.count("*").alias("n_item")
        )
    )
    a = baskets.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = baskets.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= RULE_MIN_PAIR)
    )
    both = pairs.select("pa", "pb", "n_ab").unionAll(
        pairs.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "n_ab"
        )
    )
    enriched = (
        both.join(
            item_counts.withColumnRenamed("n_item", "n_a"),
            both.pa == item_counts.part,
        )
        .drop("part")
        .join(
            item_counts.select(
                F.col("part").alias("part_b"), F.col("n_item").alias("n_b")
            ),
            F.col("pb") == F.col("part_b"),
        )
        .drop("part_b")
    )
    conf = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    # _n_orders is an exact long; cast("double") equals the previous
    # F.lit(float(n_orders)) bit-for-bit
    lift = conf / (
        F.col("n_b").cast("double") / F.col("_n_orders").cast("double")
    )
    out = enriched.crossJoin(F.broadcast(n_df)).select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "n_ab",
        "n_a",
        "n_b",
        F.round(conf, 6).alias("confidence"),
        F.round(lift, 6).alias("lift"),
    )
    return out.orderBy(
        F.col("lift").desc(), "antecedent", "consequent"
    ).limit(RULE_TOP)


A_RULES_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
item_counts AS (
  SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM baskets GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {RULE_MIN_PAIR}
),
dirboth AS (
  SELECT pa, pb, n_ab FROM pairs
  UNION ALL
  SELECT pb AS pa, pa AS pb, n_ab FROM pairs
),
enriched AS (
  SELECT t.pa AS antecedent, t.pb AS consequent, t.n_ab,
         ia.n_item AS n_a, ib.n_item AS n_b,
         ROUND(CAST(t.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6)
           AS confidence,
         ROUND(CAST(t.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE)
               / (CAST(ib.n_item AS DOUBLE) / CAST(n.n_orders AS DOUBLE)), 6)
           AS lift
  FROM dirboth t
  JOIN item_counts ia ON ia.part = t.pa
  JOIN item_counts ib ON ib.part = t.pb
  CROSS JOIN n
)
SELECT * FROM enriched
ORDER BY lift DESC, antecedent, consequent
LIMIT {RULE_TOP}
"""


def q_cdc_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current state of a change stream with delete tombstones.

    Events are a per-user change stream ordered by (ts, event_id);
    'error' is a DELETE tombstone, everything else upserts.  Output =
    live users only, carrying their last upsert — the compaction a
    CDC MERGE produces.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("event_type") != "error")
    )
    return latest.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    ).orderBy("user_id")


Q_CDC_TOMBSTONES_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_type, value,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_type,
       value AS last_value
FROM ranked WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


PQ_TOPK = 5


def e_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with exact re-rank ("ADC+R"): the compressed codes
    shortlist 50 candidates per probe (vec_id % 100 == 0), exact L2
    re-ranks the survivors to top-5.  Rows-only driver check;
    recall vs exact L2 certified in pytest."""
    # r9-opt (guide §2.4/§6): the (vec_id, embedding) projection is
    # STAGED once — codebook fit, encoding, the probe side and the
    # exact rerank each re-expanded the parquet scan otherwise (4
    # runtime scans); staged they read stored blocks.  Pure
    # materialization move, values unchanged.
    emb = _stage(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    books = pq_fit(emb)
    codes = pq_encode(emb, books)
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    return pq_topk_reranked(
        probes, emb, codes, books, k=PQ_TOPK, shortlist=50
    )


def e_pq_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC+rerank recall on planted duplicates — the oracle-checkable
    companion of :func:`e_pq_topk` (VERDICT r3 item 3).  Each probe
    vector gets a byte-identical copy planted at vec_id + 1_000_000.
    Recovery is guaranteed by construction: the copy encodes to the
    probe's own codes (same argmin, same tiebreak), so its ADC distance
    is the probe's own quantization error — the MINIMUM any candidate
    can achieve (each subspace code is that subvector's nearest
    centroid) — putting it in the shortlist; the exact rerank then
    scores it sq-dist 0.0, strictly below every non-identical vector,
    so it returns at rnk 1 with dist exactly 0.0.  Any regression in
    encoding, the ADC lookup join, shortlisting, or reranking drops
    rows and fails the hash check.

    SHORTLIST-TIE ASSUMPTION (holds at the tested SFs; re-check before
    rotating this spec to a larger corpus): every candidate sharing the
    probe's exact 8-code tuple ties the plant at the minimum ADC
    distance, and the shortlist tiebreak (neighbor_id ascending) ranks
    the plant (vec_id ≥ 1,000,000) LAST among those ties — if ≥
    ``shortlist`` (50) corpus vectors ever share one probe's code tuple
    (plausible with coarse 8×8 codebooks on clustered data at much
    larger SFs), the plant drops out of the shortlist and this oracle
    fails with no code regression.  Measured safety margin is asserted
    by ``tests/test_plans_wave16.py::
    test_pq_planted_code_tuple_multiplicity``;
    scale ``shortlist`` with the corpus if that gate ever trips."""
    from idn_area_etl_spark.plans.docs import _PLANT_OFFSET

    # r9-opt: same staged-base move as e_pq_topk (5 duplicate scans
    # before — the plant union legs on top of fit/encode/rerank).
    emb = _stage(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    plants = probes.withColumn(
        "vec_id", F.col("vec_id") + F.lit(_PLANT_OFFSET)
    )
    corpus = emb.unionByName(plants.select(*emb.columns))
    books = pq_fit(emb)
    codes = pq_encode(corpus, books)
    res = pq_topk_reranked(
        probes, corpus, codes, books, k=PQ_TOPK, shortlist=50
    )
    return (
        res.filter(
            F.col("neighbor_id") == F.col("query_id") + F.lit(_PLANT_OFFSET)
        )
        .select("query_id", "neighbor_id", "dist", "rnk")
        .orderBy("query_id")
    )


E_PQ_PLANTED_SQL = """
SELECT vec_id AS query_id,
  vec_id + 1000000 AS neighbor_id,
  CAST(0.0 AS DOUBLE) AS dist,
  CAST(1 AS INT) AS rnk
FROM embeddings
WHERE vec_id % 100 = 0
ORDER BY query_id
"""


SPECS = [
    QuerySpec("q_sliding_window_users", q_sliding_window_users, Q_SLIDING_SQL,
              doc="2h/1h sliding window distinct users",
              tags=("window", "events")),
    QuerySpec("a_association_rules", a_association_rules, A_RULES_SQL,
              doc="market-basket association rules (support/confidence/lift)",
              tags=("stats",)),
    QuerySpec("q_cdc_tombstones", q_cdc_tombstones, Q_CDC_TOMBSTONES_SQL,
              doc="CDC compaction with delete tombstones",
              tags=("etl", "events")),
    QuerySpec("e_pq_topk", e_pq_topk, None,
              doc="product-quantization ADC ANN (rows-only; pytest recall)",
              tags=("similarity",)),
    QuerySpec("e_pq_planted", e_pq_planted, E_PQ_PLANTED_SQL,
              doc="PQ ADC+rerank recall on planted duplicates (exact oracle)",
              tags=("similarity",)),
]
