"""Sixty-ninth-wave tests: invariants (null split not extreme-proof,
audit pairs symmetric-safe, folds balanced)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave69


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave69.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave69.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_permutation_null_behaves(spark, sf_dir):
    """The observed split IS one of the null draws (md5 of the same
    stream), so permuted diffs should reach it often — a large
    n_as_extreme is expected, never 0-out-of-24 significance."""
    r = wave69.a_permutation_test(spark, sf_dir).collect()[0]
    assert r["n_perms"] == 24
    assert r["n_as_extreme"] >= 1
    assert math.isfinite(r["observed_diff"])


def test_duplicate_screen_nonempty_and_positive(spark, sf_dir):
    rows = wave69.q_duplicate_payment_screen(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_pairs"] >= 1
        assert r["exposed_amount"] > 0


def test_kfold_balance(spark, sf_dir):
    rows = wave69.s_stratified_kfold(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    label_counts = {
        r["label"]: r["count"]
        for r in emb.groupBy("label").count().collect()
    }
    per_label: dict[int, list[int]] = {}
    for r in rows:
        per_label.setdefault(r["label"], []).append(r["n"])
    for label, counts in per_label.items():
        assert sum(counts) == label_counts[label]
        # round-robin keeps folds within 1 of each other
        assert max(counts) - min(counts) <= 1
