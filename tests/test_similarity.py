"""Similarity-search operator tests with planted neighbor structure."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.operators.similarity import (
    cosine_topk,
    lsh_ann_topk,
    near_dup_pairs,
)

DIM = 8


def unit(i: int) -> list[float]:
    v = [0.0] * DIM
    v[i] = 1.0
    return v


def mix(i: int, j: int, w: float) -> list[float]:
    v = [0.0] * DIM
    v[i] = 1.0 - w
    v[j] = w
    return v


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, unit(0), 0),
        (1, mix(0, 1, 0.1), 0),   # very close to 0
        (2, mix(0, 1, 0.4), 0),   # moderately close to 0
        (3, unit(1), 1),
        (4, unit(2), 1),
        (5, unit(0), 1),          # exact duplicate direction of 0
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_cosine_topk_exact_ranking(spark, emb):
    out = cosine_topk(emb.filter("vec_id = 0"), emb, k=3).collect()
    assert [r["neighbor_id"] for r in out] == [5, 1, 2]
    assert out[0]["cosine"] == 1.0
    expected_1 = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert abs(out[1]["cosine"] - round(expected_1, 6)) < 1e-9


def test_cosine_topk_rejects_oversized_query_side(spark, emb):
    # the exact baseline broadcasts the query side; a large query set
    # must fail loudly, not silently become an O(C*Q) melt.  The
    # guard fires at EXECUTION (assert_true in the plan) — building
    # the DataFrame stays action-free.
    oversized = cosine_topk(emb, emb, k=1, max_query_rows=3)  # no error yet
    with pytest.raises(Exception, match="max_query_rows"):
        oversized.count()
    # None disables the probe for callers that already bounded it
    assert cosine_topk(emb, emb, k=1, max_query_rows=None).count() > 0
    # within the cap the guard is transparent
    assert cosine_topk(
        emb.filter("vec_id = 0"), emb, k=3, max_query_rows=3
    ).count() == 3


def test_near_dup_pairs_blocked_by_label(spark, emb):
    pairs = near_dup_pairs(emb, top_k=5).collect()
    # (0,1) same label cos≈0.994 must rank first; (0,5) is cross-label
    # and must be absent despite cosine 1.0.
    assert (pairs[0]["vec_a"], pairs[0]["vec_b"]) == (0, 1)
    ids = {(r["vec_a"], r["vec_b"]) for r in pairs}
    assert (0, 5) not in ids


def test_lsh_ann_finds_identical_vector(spark, emb):
    out = lsh_ann_topk(
        emb.filter("vec_id = 0"), emb, k=3, n_planes=4, n_tables=4, dim=DIM
    ).collect()
    ids = [r["neighbor_id"] for r in out]
    # identical-direction vector hashes into the same bucket in every
    # table → always a candidate and ranked first
    assert ids and ids[0] == 5
    assert out[0]["cosine"] == 1.0


def test_lsh_ann_requires_exactly_one_query_side(spark, emb):
    with pytest.raises(ValueError, match="exactly one"):
        lsh_ann_topk(emb, emb, dim=DIM, query_pred=lambda c: c < 2)
    with pytest.raises(ValueError, match="exactly one"):
        lsh_ann_topk(None, emb, dim=DIM)


def test_lsh_recall_vs_brute_force(spark, emb):
    brute = cosine_topk(emb, emb, k=1).collect()
    approx = lsh_ann_topk(emb, emb, k=1, n_planes=2, n_tables=6, dim=DIM).collect()
    brute_top = {r["query_id"]: r["neighbor_id"] for r in brute}
    approx_top = {r["query_id"]: r["neighbor_id"] for r in approx}
    hits = sum(1 for q, n in approx_top.items() if brute_top.get(q) == n)
    # with 6 tables of 2 planes recall should be decent on 6 vectors
    assert hits >= len(approx_top) // 2
