"""Forty-fifth-wave tests: semantic invariants (hard negatives never
share the query label; coverage bounded by event count x window)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave45


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave45.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave45.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_hard_negatives_cross_label_only(spark, sf_dir):
    rows = wave45.e_hard_negatives(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["query_label"] != r["neighbor_label"]
        assert 1 <= r["rnk"] <= 3
        assert -1.0 <= r["cosine"] <= 1.0


def test_interval_coverage_bounds(spark, sf_dir):
    rows = wave45.q_interval_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # each island is at least one window long; coverage can never
        # exceed n_events stacked windows
        assert r["covered_us"] >= r["n_islands"] * 300_000_000
        assert r["covered_us"] <= r["n_events"] * 300_000_000
        assert r["n_islands"] <= r["n_events"]


def test_l_diversity_partitions_customers(spark, sf_dir):
    rows = wave45.q_l_diversity(spark, sf_dir).collect()
    total = sum(r["n_customers"] for r in rows)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert total == cust.count()
    for r in rows:
        # a group needs at least l members to show l distinct values
        assert r["n_customers"] >= r["l"] * r["n_groups"]
