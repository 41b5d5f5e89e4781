"""Eighty-fifth-wave tests: invariants (rank-biserial in [-1,1],
hockey shares bounded, cluster split leaks NOTHING)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave85


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave85.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave85.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_rank_biserial_range(spark, sf_dir):
    r = wave85.a_rank_biserial(spark, sf_dir).collect()[0]
    assert -1.0 <= r["rank_biserial"] <= 1.0
    assert 0 <= r["u_stat"] <= r["n_treat"] * r["n_control"]


def test_hockey_shares_bounded(spark, sf_dir):
    rows = wave85.q_quarter_hockey(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["final_month_share"] <= 1.0
        assert r["q_rev"] > 0


def test_cluster_split_zero_leakage(spark, sf_dir):
    r = wave85.s_cluster_aware_split(spark, sf_dir).collect()[0]
    assert r["n_near_dup_pairs"] > 0
    assert r["cluster_cross_pairs"] == 0  # the whole point
    assert 0 <= r["naive_cross_pairs"] <= r["n_near_dup_pairs"]
