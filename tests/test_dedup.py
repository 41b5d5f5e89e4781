"""Dedup operator tests with planted near-duplicates.

The sf-data documents have no duplicates, so these tests fabricate a
corpus with exact copies, near-copies (small edits), and unrelated
texts, then assert each strategy finds the planted structure.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one-token edit
OTHER = (
    "completely different content about spark query engines and their "
    "catalyst optimizer rules for predicate pushdown and column pruning"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE, "en", "s1", len(BASE)),
        (2, BASE, "en", "s2", len(BASE)),        # exact duplicate of 1
        (3, NEAR, "en", "s3", len(NEAR)),        # near-duplicate of 1
        (4, OTHER, "en", "s4", len(OTHER)),
        (5, OTHER.upper(), "en", "s5", len(OTHER)),  # case-variant of 4
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup(corpus):
    groups = {r["rep_doc_id"]: r["n_copies"] for r in exact_dedup_groups(corpus).collect()}
    assert groups[1] == 2          # docs 1+2 collapse
    assert groups[3] == 1
    assert groups[4] == 1
    assert groups[5] == 1          # case-sensitive: upper-case is distinct


def test_ngram_jaccard_ranks_planted_pairs_first(corpus):
    pairs = ngram_jaccard_pairs(corpus, n=3, top_k=4).collect()
    # exact dup (1,2) and case-variant (4,5) both hit 1.0 (word
    # shingles are lowercased); deterministic tiebreak orders them
    assert (pairs[0]["doc_a"], pairs[0]["doc_b"]) == (1, 2)
    assert pairs[0]["jaccard"] == 1.0
    assert (pairs[1]["doc_a"], pairs[1]["doc_b"]) == (4, 5)
    assert pairs[1]["jaccard"] == 1.0
    # near-dup (1,3)/(2,3) follows with high-but-not-1 similarity
    assert pairs[2]["doc_a"] in (1, 2) and pairs[2]["doc_b"] == 3
    assert 0.7 < pairs[2]["jaccard"] < 1.0


def test_minhash_signature_properties(corpus):
    sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(corpus).collect()}
    assert sigs[1] == sigs[2]                     # identical text → identical sig
    matching = sum(1 for x, y in zip(sigs[1], sigs[3]) if x == y)
    assert matching >= 16                         # near-dup → mostly matching
    far = sum(1 for x, y in zip(sigs[1], sigs[4]) if x == y)
    assert far <= 8                               # unrelated → mostly different


def test_minhash_candidates_find_planted(corpus):
    cand = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_candidates(corpus, threshold=0.5).collect()
    }
    assert cand[(1, 2)] == 1.0
    assert (1, 3) in cand or (2, 3) in cand
    assert (1, 4) not in cand


def test_simhash_hamming_structure(corpus):
    sigs = {r["doc_id"]: r["bits"] for r in simhash_signatures(corpus).collect()}
    assert sigs[1] == sigs[2]
    near_ham = sum(1 for x, y in zip(sigs[1], sigs[3]) if x != y)
    far_ham = sum(1 for x, y in zip(sigs[1], sigs[4]) if x != y)
    assert near_ham < far_ham
    assert len(sigs[1]) == 64


def test_simhash_near_pairs(corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(corpus, max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


def test_token_shingles_edge_semantics(spark):
    """The regex-scan shingle formulation must keep the documented edge
    semantics: <n tokens → one whole-text shingle, whitespace-only →
    [''], NULL text → [NULL], multi-whitespace collapsed, lowercased,
    overlapping windows at every token start, duplicates dropped."""
    from idn_area_etl_spark.operators.dedup import token_shingles_expr

    rows = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "one two"),
            (3, "single"),
            (4, ""),
            (5, None),
            (6, "  Lots   of\tWEIRD\n\nwhitespace  here  "),
            (7, "a b a b a b"),
            (8, " \t\n "),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.sh
        for r in rows.select(
            "doc_id",
            F.array_sort(token_shingles_expr("text", 3)).alias("sh"),
        ).collect()
    }
    assert got[1] == ["a b c", "b c d", "c d e"]
    assert got[2] == ["one two"]
    assert got[3] == ["single"]
    assert got[4] == [""]
    assert got[5] == [None]
    assert got[6] == ["lots of weird", "of weird whitespace", "weird whitespace here"]
    assert got[7] == ["a b a", "b a b"]
    assert got[8] == [""]


def test_stage_materialization_escape_hatch(spark, corpus):
    """Inside staged_scope() the pinned localCheckpoint is swapped for a
    recomputable persist (the long-lived-session / spot-instance
    deployment mode) with identical results."""
    from idn_area_etl_spark.operators.dedup import minhash_verified_pairs
    from idn_area_etl_spark.operators.stage import staged_scope

    baseline = sorted(map(tuple, minhash_verified_pairs(corpus).collect()))
    with staged_scope():
        out = minhash_verified_pairs(corpus)
        assert sorted(map(tuple, out.collect())) == baseline
        # persist keeps lineage: the plan has a real InMemoryRelation
        assert "InMemoryTableScan" in out._jdf.queryExecution().executedPlan().toString()
