"""Fifty-second-wave tests: bootstrap CI sanity, and the MinHash-LSH
recall cross-check against the exact prefix join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import (
    minhash_candidates,
    prefix_jaccard_join,
)
from idn_area_etl_spark.plans import all_specs, wave52
from idn_area_etl_spark.sources.tables import load_table


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave52.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave52.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_bootstrap_ci_brackets_true_mean(spark, sf_dir):
    r = wave52.a_poisson_bootstrap_ci(spark, sf_dir).collect()[0]
    assert r["n_reps"] == 24
    assert r["ci_lo"] < r["boot_mean"] < r["ci_hi"]
    true_mean = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .agg(F.avg("value"))
        .collect()[0][0]
    )
    # Poisson bootstrap is centered on the sample mean; the CI should
    # contain it comfortably at these replicate counts
    assert r["ci_lo"] <= true_mean <= r["ci_hi"]


def test_streaks_partition_users(spark, sf_dir):
    rows = wave52.q_longest_streaks(spark, sf_dir).collect()
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        assert 1 <= r["longest"] <= 30  # january only


def test_minhash_lsh_recall_vs_exact_prefix_join(spark, sf_dir):
    """Cross-operator check: LSH candidate generation must recover
    nearly all truly-similar pairs found by the EXACT prefix join.

    Both operators use word-5-gram shingles, so the minhash banding
    (32 hashes, 8 bands of 4 -> P[candidate] ~ 1-(1-s^4)^8, ~0.998
    at s = 0.8) should catch every planted near-dup."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["doc1"], r["doc2"])
        for r in prefix_jaccard_join(docs, n=5, tau_num=4, tau_den=5)
        .select("doc1", "doc2")
        .collect()
    }
    assert exact, "expected planted near-dups"
    cand = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in minhash_candidates(docs, n=5).collect()
    }
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9
