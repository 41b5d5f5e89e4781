"""Sixty-third-wave tests: invariants (pooled SE below the smallest
single-site SE logic, reach disjointness, matrix partitions parts)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave63


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave63.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave63.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_meta_pool_structure(spark, sf_dir):
    r = wave63.a_fixed_effect_meta(spark, sf_dir).collect()[0]
    assert r["k_sites"] >= 2
    assert r["pooled_se"] > 0
    assert math.isfinite(r["pooled_effect"])


def test_two_hop_reach_disjoint(spark, sf_dir):
    rows = wave63.g_two_hop_reach(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_direct"] >= 1
        assert r["n_two_hop"] >= 0


def test_abc_xyz_partitions_parts(spark, sf_dir):
    rows = wave63.q_abc_xyz_matrix(spark, sf_dir).collect()
    n_parts = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r["n_parts"] for r in rows) == n_parts
    for r in rows:
        assert r["abc"] in {"A", "B", "C"}
        assert r["xyz"] in {"X", "Y", "Z"}
