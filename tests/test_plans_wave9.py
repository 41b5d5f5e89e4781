"""Ninth-wave tests: the algorithmic invariants (PageRank mass
conservation, CMS overestimation, winnowing detection guarantee)
that SQL comparison alone doesn't pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import winnow_substring_pairs
from idn_area_etl_spark.operators.graph import pagerank
from idn_area_etl_spark.operators.sketch import count_min_topk
from idn_area_etl_spark.operators.text import winnow_fingerprints_expr
from idn_area_etl_spark.plans import all_specs, wave9


def test_all_wave9_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave9.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave9.SPECS if s.oracle is not None]
)
def test_wave9_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


# --------------------------------------------------------------------------
# PageRank invariants
# --------------------------------------------------------------------------


def test_pagerank_star_center_wins(spark):
    """In a star graph the hub must out-rank every leaf."""
    leaves = list(range(1, 6))
    edges = [(0, v) for v in leaves] + [(v, 0) for v in leaves]
    e = spark.createDataFrame(edges, ["src", "dst"])
    ranks = {r.node: r.rank for r in pagerank(e, iters=5).collect()}
    hub = ranks[0]
    assert all(hub > ranks[v] for v in leaves)
    # undirected graph has no dangling mass: ranks must sum to 1
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_partition_invariant(spark):
    edges = [(i, (i + 1) % 7) for i in range(7)] + [(0, 3), (3, 0)]
    e1 = spark.createDataFrame(edges, ["src", "dst"]).coalesce(1)
    e17 = spark.createDataFrame(edges, ["src", "dst"]).repartition(17)
    r1 = {r.node: r.rank for r in pagerank(e1, iters=4).collect()}
    r17 = {r.node: r.rank for r in pagerank(e17, iters=4).collect()}
    assert r1 == r17  # bit-exact thanks to decimal contribution sums


# --------------------------------------------------------------------------
# Count-min sketch invariants
# --------------------------------------------------------------------------


def test_countmin_never_underestimates(spark, sf_dir):
    out = all_specs()["a_countmin_users"].builder(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.est_count >= r.exact_count


def test_countmin_rollup_matches_brute_force(spark):
    """r9 internals change: sketch cells, the distinct key-cell probe
    and the exact count all derive from ONE (key, h, bucket) rollup.
    Pin both outputs against Python brute force: exact_count is the
    true multiplicity, and est_count equals the minimum over the d
    per-row sketch cells computed independently."""
    from collections import Counter

    from idn_area_etl_spark.operators.sketch import md5_bucket

    d, w = 3, 16
    df = spark.range(2000).select((F.col("id") % 97).alias("k"))
    out = {
        r.k: (r.est_count, r.exact_count)
        for r in count_min_topk(df, "k", d=d, w=w, top_k=97).collect()
    }
    truth = Counter(r.k for r in df.collect())
    # independent sketch: bucket each key with the same md5 scheme
    buckets = {
        r.k: [r[f"b{h}"] for h in range(d)]
        for r in df.select(
            "k",
            *[md5_bucket(F.col("k"), f"cms{h}:", w).alias(f"b{h}") for h in range(d)],
        )
        .distinct()
        .collect()
    }
    cells = Counter()
    for k, n in truth.items():
        for h, b in enumerate(buckets[k]):
            cells[(h, b)] += n
    for k, n in truth.items():
        est = min(cells[(h, b)] for h, b in enumerate(buckets[k]))
        assert out[k] == (est, n)


def test_countmin_collisions_overestimate(spark):
    """1000 keys into w=8 buckets must collide: some est > exact, and
    the error is bounded by the total count."""
    df = spark.range(5000).select((F.col("id") % 1000).alias("k"))
    out = count_min_topk(df, "k", d=2, w=8, top_k=1000).collect()
    assert any(r.est_count > r.exact_count for r in out)
    for r in out:
        assert r.est_count >= r.exact_count
        assert r.est_count <= 5000


# --------------------------------------------------------------------------
# Winnowing: the detection guarantee
# --------------------------------------------------------------------------


def test_winnowing_guarantee_and_specificity(spark):
    """Docs sharing a substring of length >= k+w-1 share >= 1
    fingerprint (Schleimer guarantee); unrelated docs don't pair."""
    shared = "the quick brown fox jumps over the lazy dog repeatedly"
    docs = spark.createDataFrame(
        [
            (1, "prefix one here. " + shared + " and a unique ending A"),
            (2, "different opening text! " + shared + " closing words B"),
            (3, "totally unrelated content about spark catalyst plans"),
        ],
        ["doc_id", "text"],
    )
    pairs = winnow_substring_pairs(
        docs, k=20, w=8, max_df=10, min_shared=1, top_k=10
    ).collect()
    keys = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in keys
    assert all(3 not in (a, b) for a, b in keys)


def test_winnow_fingerprints_shift_invariant_for_shared_block(spark):
    """The same long substring at different offsets yields overlapping
    fingerprint sets (position-independence of winnowing)."""
    block = "abcdefghijklmnopqrstuvwxyz0123456789 shared block!"
    df = spark.createDataFrame(
        [(1, "XX" + block), (2, "a much longer prefix before " + block)],
        ["doc_id", "text"],
    )
    fps = df.select(
        "doc_id",
        winnow_fingerprints_expr(F.col("text"), k=20, w=8).alias("fps"),
    ).collect()
    sets = {r.doc_id: set(r.fps) for r in fps}
    assert sets[1] & sets[2]


def test_winnow_batch_path_matches_expression_path(spark):
    """The vectorized Arrow fingerprint stage (winnow_fingerprint_rows)
    must produce exactly the fingerprint sets of the higher-order
    expression form — including the edge shapes: empty text, text
    shorter than k, text between k and k+w, nulls."""
    from idn_area_etl_spark.operators.text import winnow_fingerprint_rows

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 8),
            (2, ""),
            (3, "short"),
            (4, "exactly twenty chars"),          # len == k
            (5, "twenty-six characters here"),    # k < len < k+w
            (6, None),
            (7, "unicode: héllo wörld — ünïcode text for the hash päth!"),
        ],
        "doc_id long, text string",
    )
    expr_rows = {
        (r.doc_id, r.fp)
        for r in docs.select(
            "doc_id",
            F.explode(
                winnow_fingerprints_expr(F.col("text"), k=20, w=8)
            ).alias("fp"),
        ).collect()
    }
    batch_rows = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprint_rows(docs, k=20, w=8).collect()
    }
    assert batch_rows == expr_rows
