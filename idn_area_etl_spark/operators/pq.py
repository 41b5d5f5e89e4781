"""Product quantization (PQ) for embedding compression + ANN.

The standard 100 TB-scale vector-compression scheme (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011):
split each D-dim vector into M subvectors, fit a tiny k-means
codebook per subspace, and store each vector as M small codes
(here M=8 codes for a 64-dim float vector — 32× smaller than
float64).  Query-time ADC (asymmetric distance computation) scores
candidates from a per-query lookup table without touching raw
vectors.

Everything is DataFrame-native:

- **fit**: one fused Lloyd loop over all M subspaces at once
  (long-form (vec_id, sub, subvec) rows — deterministic, no RNG).
- **encode**: nearest-centroid assignment per subspace → long-form
  codes (vec_id, sub, code): M small ints per vector.  At scale this
  is the stored representation; raw vectors leave the hot path.
- **ADC top-k**: the per-query distance table (M·k rows) is tiny and
  broadcast; candidate scoring is an equi-join of the code table with
  the distance table on (sub, code) followed by a map-side-combinable
  sum — no shuffle of raw vectors, no cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ivf import _sq_dist
from idn_area_etl_spark.operators.similarity import as_double_vec
from idn_area_etl_spark.operators.stage import _round


def _explode_subvecs(
    emb: DataFrame, n_sub: int, vec_col: str, id_col: str, dim: int
) -> DataFrame:
    width = dim // n_sub
    vec = as_double_vec(F.col(vec_col))
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice(vec, s * width + 1, width).alias("subvec"),
                )
                for s in range(n_sub)
            ])
        ).alias("x"),
    ).select("vec_id", "x.sub", "x.subvec")


def pq_fit(
    emb: DataFrame,
    n_sub: int = 8,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Fit per-subspace codebooks.

    Returns (sub int, cluster_id int, centroid array<double>) with
    ``n_sub * k`` rows — kilobytes, independent of corpus size.

    All M subspaces train in ONE fused Lloyd loop over the long-form
    (vec_id, sub, subvec) frame: each round is a single broadcast
    assign + a single (sub, cluster, dim) mean shuffle, instead of M
    independent k-means jobs — M× fewer Spark jobs, same result.
    Deterministic: init = the k lowest vec_ids per subspace; argmin
    ties break on cluster_id.
    """
    if dim % n_sub:
        raise ValueError("dim must divide into n_sub equal subvectors")
    subs = _explode_subvecs(emb, n_sub, vec_col, id_col, dim)
    wseed = Window.partitionBy("sub").orderBy("vec_id")
    centroids = (
        subs.withColumn("rn", F.row_number().over(wseed))
        .filter(F.col("rn") <= k)
        .select(
            "sub",
            (F.col("rn") - 1).cast("int").alias("cluster_id"),
            F.col("subvec").alias("centroid"),
        )
    )
    wassign = Window.partitionBy("vec_id", "sub").orderBy("_d", "cluster_id")
    for _ in range(iters):
        assigned = (
            subs.join(F.broadcast(centroids), "sub")
            .withColumn("_d", _sq_dist(F.col("subvec"), F.col("centroid")))
            .withColumn("_rn", F.row_number().over(wassign))
            .filter(F.col("_rn") == 1)
        )
        means = (
            assigned.select(
                "sub", "cluster_id", F.posexplode("subvec").alias("dim", "v")
            )
            .groupBy("sub", "cluster_id", "dim")
            # exact decimal sum — order-independent under any
            # partitioning (see SCALE.md, e_top_eigenvector bug class)
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(38,18)")).cast("double")
                    / F.count("*")
                ).alias("m")
            )
            .groupBy("sub", "cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda st: st["m"],
                ).alias("centroid")
            )
        )
        # empty clusters keep their previous centroid
        centroids, _ = _round(
            centroids.alias("old")
            .join(means.alias("new"), ["sub", "cluster_id"], "left")
            .select(
                "sub",
                "cluster_id",
                F.coalesce(F.col("new.centroid"), F.col("old.centroid")).alias(
                    "centroid"
                ),
            ),
            prev=centroids,
        )
    return centroids


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Encode vectors as long-form PQ codes (vec_id, sub, code).

    One broadcast join against the codebooks + a per-(vec, sub)
    argmin — the corpus is touched once, map-side.
    """
    subs = _explode_subvecs(emb, n_sub, vec_col, id_col, dim)
    joined = subs.join(F.broadcast(codebooks), "sub")
    w = Window.partitionBy("vec_id", "sub").orderBy("_d", "cluster_id")
    return (
        joined.withColumn("_d", _sq_dist(F.col("subvec"), F.col("centroid")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "sub", F.col("cluster_id").alias("code"))
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k: smallest approximate L2 distance.

    Per query, distances to every (sub, centroid) form the lookup
    table (n_sub·k_codebook rows — broadcast); candidate distance =
    sum of table entries selected by the candidate's codes.
    """
    width = dim // n_sub
    vec = as_double_vec(F.col(vec_col))
    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice(vec, s * width + 1, width).alias("qsub"),
                )
                for s in range(n_sub)
            ])
        ).alias("x"),
    ).select("query_id", "x.sub", "x.qsub")
    table = (
        qsubs.join(F.broadcast(codebooks), "sub")
        .select(
            "query_id",
            "sub",
            F.col("cluster_id").alias("code"),
            _sq_dist(F.col("qsub"), F.col("centroid")).alias("d_part"),
        )
    )
    partial = codes.join(F.broadcast(table), ["sub", "code"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # fixed-order fold over the M partials (sorted by sub) so the
    # distance is bit-reproducible regardless of aggregation order
    dist = partial.groupBy("query_id", F.col("vec_id").alias("neighbor_id")).agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "d_part"))),
                lambda st: st["d_part"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("approx_dist")
    )
    from idn_area_etl_spark.operators.ranks import grouped_topk

    # two-phase salted top-k (r6): ADC scores one row per corpus
    # vector per query — never one window task's worth
    return (
        grouped_topk(
            dist,
            ["query_id"],
            [F.col("approx_dist"), F.col("neighbor_id")],
            k,
            salt_key=F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round("approx_dist", 6).alias("approx_dist"),
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("query_id", "rnk")
    )


def pq_topk_reranked(
    queries: DataFrame,
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_sub: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """PQ-with-rerank ("ADC+R"): ADC shortlist, then exact L2 on the
    survivors only.

    This is how PQ deploys at scale — the compressed codes prune the
    corpus to ``shortlist`` candidates per query (no raw-vector I/O),
    then the exact distance touches just ``queries × shortlist`` raw
    vectors.  The rerank join is an equi-join on neighbor_id.
    """
    short = pq_adc_topk(
        queries, codes, codebooks, k=shortlist,
        n_sub=n_sub, vec_col=vec_col, id_col=id_col, dim=dim,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("_qv"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(F.col(vec_col)).alias("_cv"),
    )
    exact = (
        short.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist(F.col("_qv"), F.col("_cv")).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("dist", 6).alias("dist"),
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("query_id", "rnk")
    )
