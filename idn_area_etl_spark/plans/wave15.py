"""Fifteenth wave: record linkage, quantized ANN, graph triangles,
Bloom runtime-filter joins.

- **Fuzzy record linkage** — blocked Levenshtein self-join: equi-join
  on the blocking key (stays a shuffled equi-join; the edit-distance
  predicate is a post-join filter, never a cartesian), the classic
  entity-resolution shape.  Levenshtein is bit-identical across
  engines (integer DP).
- **Int8-quantized dot-product top-k (MIPS)** — the scale path for
  similarity search: per-dimension max-abs scales (a 64-value global
  aggregate), symmetric int8 quantization, integer dot products.
  Everything after quantization is exact integer arithmetic → exact
  oracle; quantization itself is a single per-value double expression
  written identically on both engines (no float reductions anywhere).
  At 100 TB this is 4× less vector I/O and integer SIMD instead of
  float — the standard first rung of ANN compression.
- **Triangle counting** — parts co-ordered ≥2 times form a sparse
  graph (~3.4k edges / 2k nodes at sf0.01); oriented edges (a<b) make
  each triangle counted exactly once by the two-hop + closing-edge
  join.  Per-node triangle participation + degree = local clustering
  signal.
- **Bloom-pruned semi join** (`operators/bloom.py`) — DataFrame-native
  runtime filter: kilobyte bitmap from the selective build side,
  literal-embedded probe filter inside codegen, exact semi join after.
  Oracle = the plain semi join (bloom only prunes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.bloom import bloom_pruned_semi_join
from idn_area_etl_spark.operators.joins import edit1_candidate_pairs
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


FUZZY_MAX_DIST = 1
# Segment split for PassJoin-style candidate generation.  For edit
# distance <= 1 between EQUAL-length strings (i.e. one substitution),
# at least one of two segments is untouched — so candidates are the
# union of two sparse equi-joins on (block, segment), never an
# all-pairs comparison.  The split point should avoid low-entropy
# segments: customer names share the constant "Customer#" prefix, so
# splitting at 13 keeps 4 digits in the left segment and 5 in the
# right — both discriminative.
FUZZY_SPLIT = 13


def j_fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate pairs: same nation block, customer
    names within edit distance 1.

    Candidate generation is segment-blocked (PassJoin): equal-length
    pairs must agree on segment 1 OR segment 2 (pigeonhole over one
    substitution); pairs whose lengths differ by 1 (one indel) pass a
    cheap length residual on the block join.  Levenshtein runs only
    on the surviving candidates — at 100 TB the expensive DP never
    touches the quadratic block fan-out.
    """
    c = load_table(spark, sf_dir, "customer")
    cands = edit1_candidate_pairs(
        c, block_col="c_nationkey", key_col="c_custkey",
        name_col="c_name", split_pos=FUZZY_SPLIT,
    ).withColumnsRenamed(
        {"key_a": "custkey_a", "key_b": "custkey_b"}
    )
    return (
        cands.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("block", "custkey_a", "custkey_b", "name_a", "name_b", "dist")
        .orderBy("block", "custkey_a", "custkey_b")
    )


J_FUZZY_SQL = f"""
SELECT a.c_nationkey AS block,
  a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
  a.c_name AS name_a, b.c_name AS name_b,
  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {FUZZY_MAX_DIST}
ORDER BY block, custkey_a, custkey_b
"""


QUANT_DIM = 64
QUANT_TOPK = 5


def e_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized maximum-inner-product top-k per probe vector.

    Scales: per-dimension max(|x|) (exact — max of floats, no fold).
    Quantize: floor(x / s * 127 + 0.5) — one double expression per
    value, identical text on both engines.  Scores: int64 dot
    products — order-independent, bit-exact.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # r9-opt (guide §2.4): vec feeds the scale fit and the quantize
    # pass; quant feeds both scoring sides — unstaged, the parquet
    # scan re-ran per consumer (3 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    vec = _stage(
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
        )
    )
    scales_row = (
        vec.select(F.posexplode("vec").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("val"))).alias("s"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda st: F.when(st["s"] == 0.0, F.lit(1.0)).otherwise(st["s"]),
            ).alias("scales")
        )
    )
    quant = _stage(
        vec.crossJoin(F.broadcast(scales_row))
        .select(
            "vec_id",
            F.zip_with(
                "vec",
                "scales",
                lambda x, s: F.floor(x / s * 127.0 + 0.5).cast("long"),
            ).alias("qvec"),
        )
    )
    probes = quant.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qa")
    )
    cands = quant.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("ca")
    )
    # few probes × many candidates: broadcast the probe set so the
    # scoring is a map-only stage over the candidate partitions
    pairs = (
        cands.crossJoin(F.broadcast(probes))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("qa", "ca", lambda p, q: p * q),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    from idn_area_etl_spark.operators.ranks import grouped_topk

    # two-phase salted top-k (r6): quantized scores are corpus-scale
    # per query
    return (
        grouped_topk(
            pairs,
            ["query_id"],
            [F.col("score").desc(), F.col("neighbor_id")],
            QUANT_TOPK,
            salt_key=F.col("neighbor_id"),
        )
        .select("query_id", "neighbor_id", "score",
                F.col("rnk").cast("int").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


E_QUANTIZED_SQL = f"""
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vec
  FROM embeddings
),
d AS (
  SELECT i AS pos, MAX(ABS(vec[i])) AS s
  FROM v CROSS JOIN generate_series(1, {QUANT_DIM}) t(i)
  GROUP BY i
),
sc AS (
  SELECT list(CASE WHEN s = 0 THEN 1.0 ELSE s END ORDER BY pos) AS scales
  FROM d
),
q AS (
  SELECT vec_id,
    list_transform(generate_series(1, {QUANT_DIM}),
      i -> CAST(FLOOR(vec[i] / scales[i] * 127.0 + 0.5) AS BIGINT)) AS qvec
  FROM v CROSS JOIN sc
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(generate_series(1, {QUANT_DIM}),
      i -> a.qvec[i] * b.qvec[i])) AS BIGINT) AS score
  FROM q a JOIN q b ON b.vec_id <> a.vec_id
  WHERE a.vec_id % 100 = 0
),
ranked AS (
  SELECT query_id, neighbor_id, score,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {QUANT_TOPK}
ORDER BY query_id, rnk
"""


TRIANGLE_MIN_SHARED = 2


def g_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-order graph.

    Edges: part pairs co-ordered in ≥2 distinct orders, oriented
    a < b (each triangle materializes exactly once as a<b<c).  The
    heavy step is the two-hop equi-join on oriented edges — the
    standard distributed triangle enumeration, shuffle keyed on the
    shared endpoint.
    """
    li = load_table(spark, sf_dir, "lineitem")
    from idn_area_etl_spark.operators.graph import co_purchase_edges

    # r8-opt: the edge build is the staged shared co-purchase
    # subtree (see co_purchase_edges) — previously re-expanded per
    # downstream consumer
    edges = co_purchase_edges(li, min_co=TRIANGLE_MIN_SHARED)
    e1 = edges.select(F.col("p1").alias("a"), F.col("p2").alias("b"))
    e2 = edges.select(F.col("p1").alias("b"), F.col("p2").alias("c"))
    e3 = edges.select(F.col("p1").alias("a"), F.col("p2").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = tris.select(F.explode(F.array("a", "b", "c")).alias("part"))
    tri_counts = nodes.groupBy("part").agg(F.count("*").alias("triangles"))
    deg = (
        edges.select(F.col("p1").alias("part"))
        .unionAll(edges.select(F.col("p2").alias("part")))
        .groupBy("part")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.join(tri_counts, "part", "left")
        .select(
            "part",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
        )
        .orderBy("part")
    )


G_TRIANGLE_SQL = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {TRIANGLE_MIN_SHARED}
),
tris AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM edges e1
  JOIN edges e2 ON e2.p1 = e1.p2
  JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
),
nodes AS (
  SELECT a AS part FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
),
tri_counts AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS triangles
  FROM nodes GROUP BY part
),
deg AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT p1 AS part FROM edges UNION ALL SELECT p2 FROM edges
  ) GROUP BY part
)
SELECT d.part, d.degree, COALESCE(t.triangles, 0) AS triangles
FROM deg d LEFT JOIN tri_counts t ON t.part = d.part
ORDER BY d.part
"""


BLOOM_PRICE_THRESHOLD = 400_000.0


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to high-value orders, with the
    probe side pre-pruned by a DataFrame-native Bloom filter before
    the exact semi join (see operators/bloom.py).  Result is
    independent of the bloom — the oracle is the plain semi join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hot = orders.filter(F.col("o_totalprice") > BLOOM_PRICE_THRESHOLD)
    matched = bloom_pruned_semi_join(
        li, hot, probe_key="l_orderkey", build_key="o_orderkey"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,6)"
    )
    return (
        matched.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_BLOOM_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
       AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_totalprice > {BLOOM_PRICE_THRESHOLD}
)
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


SPECS = [
    QuerySpec("j_fuzzy_customer_pairs", j_fuzzy_customer_pairs, J_FUZZY_SQL,
              doc="blocked Levenshtein record-linkage candidate pairs",
              tags=("join", "linkage")),
    QuerySpec("e_quantized_topk", e_quantized_topk, E_QUANTIZED_SQL,
              doc="int8-quantized MIPS top-k (exact integer oracle)",
              tags=("similarity",)),
    QuerySpec("g_triangle_parts", g_triangle_parts, G_TRIANGLE_SQL,
              doc="per-node triangle counts on the co-order part graph",
              tags=("graph",)),
    QuerySpec("q_bloom_prefilter", q_bloom_prefilter, Q_BLOOM_SQL,
              doc="Bloom runtime-filter pruned exact semi join",
              tags=("join", "scale")),
]
