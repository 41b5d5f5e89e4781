"""Ninetieth-wave tests: invariants (balanced after-counts, BF t
finite, profile monotone)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave90


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave90.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave90.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_oversample_balances(spark, sf_dir):
    rows = wave90.s_oversample_minority(spark, sf_dir).collect()
    mx = max(r["n"] for r in rows)
    for r in rows:
        assert r["n_after"] == r["n"] * r["replication"]
        # replication is the minimal factor reaching the majority
        assert r["n_after"] >= mx
        assert r["n"] * (r["replication"] - 1) < mx
    majority = [r for r in rows if r["n"] == mx]
    assert all(r["replication"] == 1 for r in majority)


def test_bf_structure(spark, sf_dir):
    r = wave90.a_brown_forsythe(spark, sf_dir).collect()[0]
    assert r["mean_absdev_control"] > 0
    assert r["mean_absdev_treat"] > 0
    assert math.isfinite(r["bf_t"])


def test_profile_monotone(spark, sf_dir):
    rows = wave90.g_threshold_profile(spark, sf_dir).collect()
    assert [r["floor"] for r in rows] == [1, 2, 3, 4, 5]
    edges = [r["n_edges"] for r in rows]
    nodes = [r["n_nodes"] for r in rows]
    assert all(a >= b for a, b in zip(edges, edges[1:]))
    assert all(a >= b for a, b in zip(nodes, nodes[1:]))
    for r in rows:
        assert 0.0 <= r["density"] <= 1.0
