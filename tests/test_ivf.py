"""IVF-ANN tests: k-means convergence on planted clusters + recall."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.operators.ivf import (
    assign_clusters,
    ivf_ann_topk,
    kmeans_fit,
)
from idn_area_etl_spark.operators.similarity import as_double_vec, cosine_topk

DIM = 6


def around(center_dim: int, wiggle_dim: int, w: float) -> list[float]:
    v = [0.0] * DIM
    v[center_dim] = 1.0
    v[wiggle_dim] = w
    return v


@pytest.fixture(scope="module")
def clustered(spark):
    rows = []
    vid = 0
    # three well-separated clusters around axes 0, 2, 4
    for center in (0, 2, 4):
        for i in range(6):
            rows.append((vid, around(center, center + 1, 0.05 * i), center))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_kmeans_recovers_planted_clusters(spark, clustered):
    centroids = kmeans_fit(clustered, k=3, iters=4)
    assert centroids.count() == 3
    from pyspark.sql import functions as F

    vectors = clustered.select(
        "vec_id", as_double_vec(F.col("embedding")).alias("_vec"), "label"
    )
    assigned = assign_clusters(vectors, centroids)
    # cluster assignment must be pure wrt the planted label
    purity = (
        assigned.groupBy("cluster_id")
        .agg(F.countDistinct("label").alias("n_labels"))
        .collect()
    )
    assert all(r["n_labels"] == 1 for r in purity)


def test_kmeans_k_beyond_distinct_vectors_repeats_seeds(spark):
    """Chosen vectors stay farthest-point candidates (at distance 0),
    so k beyond the distinct vectors repeats the lowest id among the
    tied zero distances."""
    emb = spark.createDataFrame(
        [(4, [1.0, 2.0]), (9, [1.0, 2.0]), (2, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_fit(emb, k=4, iters=0).orderBy("cluster_id").collect()
    assert [r["centroid"] for r in rows] == [[0.0, 2.0]] * 3 + [[1.0, 2.0]]


def test_ivf_topk_matches_brute_force_in_cluster(spark, clustered):
    centroids = kmeans_fit(clustered, k=3, iters=4)
    queries = clustered.filter("vec_id IN (0, 6, 12)")
    approx = ivf_ann_topk(queries, clustered, centroids, k=3, n_probe=1)
    brute = cosine_topk(queries, clustered, k=3)
    a = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in approx.collect()}
    b = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in brute.collect()}
    # clusters are well separated → probing 1 list reproduces exact top-3
    assert a == b
