"""IVF (inverted-file) approximate nearest-neighbor search.

The scale path for ANN beyond LSH: partition the vector space with
k-means centroids, assign every corpus vector to its nearest centroid
(the "inverted list"), and at query time probe only the ``n_probe``
nearest lists.  Candidate generation is an equi-join on centroid id —
at 100 TB each list is a shuffle partition, never a cross product.

The k-means here is a deterministic Lloyd iteration with MLlib-style
state placement: the BIG side (vectors) stays distributed, the TINY
side (k centroids, k·dim doubles) lives on the driver between rounds
and re-enters each round as a literal LocalRelation.  Threading the
centroids through the loop as DataFrame lineage instead would double
the plan every iteration (centroids appear twice in the
empty-cluster-keep join) — measured as a 6.5 MB physical plan with
4088 broadcast exchanges for k=8/iters=2 before this rewrite
(tools/explain_audit.py).  With driver-side state every round's plan
is constant-size: scan + broadcast of a k-row literal.

- init: deterministic farthest-point seeding, each seed observed on
  a round checkpoint;
- assign: broadcast literal centroids, argmin squared distance as a
  ``min_by`` hash aggregate — the broadcast join leaves each vector's
  k candidate rows co-partitioned, so the partial agg COMPLETES
  map-side and the exchange carries one finished row per vector (the
  previous window-argmin shuffled all k·N rows, then sorted);
- update: per-(cluster, dimension) mean via posexplode — one shuffle
  keyed (cluster, dim), k·dim rows collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.similarity import as_double_vec, dot_expr, norm_expr
from idn_area_etl_spark.operators.stage import _release, _round


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    vectors: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Attach the nearest centroid id to every vector.

    ``vectors``: (id, _vec array<double>); ``centroids``:
    (cluster_id, centroid array<double>).  Broadcast join, then argmin
    as a ``min_by`` hash aggregate with deterministic cluster_id
    tiebreak — partial aggregation completes map-side (all k candidate
    rows of a vector sit in one partition after the broadcast join),
    so the exchange carries one row per vector instead of k.
    """
    carried = [c for c in vectors.columns if c != id_col]
    joined = vectors.crossJoin(F.broadcast(centroids))
    d = _sq_dist(F.col("_vec"), F.col("centroid"))
    best = F.min_by(
        F.struct(*[F.col(c) for c in carried], F.col("cluster_id")),
        F.struct(F.col("_dist"), F.col("cluster_id")),
    )
    return (
        joined.withColumn("_dist", d)
        .groupBy(id_col)
        .agg(best.alias("_best"))
        .select(
            id_col,
            *[F.col(f"_best.{c}").alias(c) for c in carried],
            F.col("_best.cluster_id").alias("cluster_id"),
        )
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column.

    Returns (cluster_id int, centroid array<double>); no rows for an
    empty input.  Empty clusters keep their previous centroid.
    """
    spark = emb.sparkSession

    def literal_centroids(centers: list[list[float]]) -> DataFrame:
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(centers)],
            schema="cluster_id int, centroid array<double>",
        )

    # ---- init: farthest-point seeding (kmeans++-lite) ----
    # the lowest id, then the vector farthest from the chosen set (ties
    # → smaller vec_id); each round folds only the NEW seed into the
    # running min.  Chosen vectors stay candidates (at distance 0).
    vectors, m = _round(
        emb.select(
            F.col(id_col).alias("vec_id"), as_double_vec(F.col(vec_col)).alias("_vec")
        ),
        [F.min_by(F.struct("vec_id", "_vec"), "vec_id").alias("seed")],
    )
    if m["seed"] is None:
        _release(vectors)
        return literal_centroids([])
    farthest = F.max_by(
        F.struct("vec_id", "_vec"), F.struct("_mind", -F.col("vec_id"))
    ).alias("seed")
    chosen = [m["seed"]]
    cand = vectors.withColumn("_mind", F.lit(None).cast("double"))
    for _ in range(k - 1):
        seed = spark.createDataFrame([(chosen[-1]["_vec"],)], "_cvec array<double>")
        cand, m = _round(
            cand.crossJoin(F.broadcast(seed)).select(
                "vec_id",
                "_vec",
                F.least("_mind", _sq_dist(F.col("_vec"), F.col("_cvec"))).alias("_mind"),
            ),
            [farthest],
            prev=cand,
        )
        chosen.append(m["seed"])
    _release(cand)
    # cluster ids are assigned by ascending seed vec_id (stable under
    # any selection order), matching the documented determinism
    centers = [list(v) for _, v in sorted(chosen)]

    # ---- Lloyd rounds: k·dim means collected per round ----
    for _ in range(iters):
        assigned = assign_clusters(vectors, literal_centroids(centers))
        means = (
            assigned.select("cluster_id", F.posexplode("_vec").alias("dim", "v"))
            .groupBy("cluster_id", "dim")
            # exact decimal sum: a double F.avg depends on partition
            # layout through summation order, which drifts the
            # centroids (and thus assignments) across AQE/partition
            # configs — the e_top_eigenvector bug class (SCALE.md)
            .agg(
                (
                    F.sum(F.col("v").cast("decimal(38,18)")).cast("double")
                    / F.count("*")
                ).alias("m")
            )
            .collect()
        )
        per_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            per_cluster.setdefault(r["cluster_id"], {})[r["dim"]] = r["m"]
        # empty clusters keep their previous centroid
        centers = [
            [per_cluster[i][d] for d in sorted(per_cluster[i])]
            if i in per_cluster
            else centers[i]
            for i in range(len(centers))
        ]
    _release(vectors)
    return literal_centroids(centers)


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the ``n_probe`` nearest inverted lists
    per query, rank candidates by exact cosine."""
    corp = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_vec(F.col(vec_col)).alias("_vec"),
    )
    corp_assigned = assign_clusters(corp, centroids, id_col="neighbor_id")
    corp_assigned = corp_assigned.withColumn("_nrm", norm_expr(F.col("_vec")))

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("_qvec"),
    )
    qx = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_dist", _sq_dist(F.col("_qvec"), F.col("centroid"))
    )
    wq = Window.partitionBy("query_id").orderBy("_dist", "cluster_id")
    q_probes = (
        qx.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qvec", "cluster_id")
        .withColumn("_qnrm", norm_expr(F.col("_qvec")))
    )

    cand = q_probes.join(corp_assigned, "cluster_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = F.round(
        dot_expr(F.col("_qvec"), F.col("_vec"))
        / (F.col("_qnrm") * F.col("_nrm")),
        6,
    )
    from idn_area_etl_spark.operators.ranks import grouped_topk

    # two-phase salted top-k (r6): the probed inverted lists are
    # corpus/nlist-scale per query — never one window task's worth
    return grouped_topk(
        cand.select("query_id", "neighbor_id", cos.alias("cosine")),
        ["query_id"],
        [F.desc("cosine"), F.col("neighbor_id")],
        k,
        salt_key=F.col("neighbor_id"),
    ).orderBy("query_id", "rnk")
