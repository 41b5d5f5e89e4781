"""Fifty-seventh-wave tests: invariants (indices positive, migration
matrix partitions customers, entropy bounded by ln(k))."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave57


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave57.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave57.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_price_indices_positive(spark, sf_dir):
    r = wave57.a_price_indices(spark, sf_dir).collect()[0]
    assert r["n_parts"] > 0
    assert r["laspeyres"] > 0
    assert r["paasche"] > 0


def test_migration_partitions_customers(spark, sf_dir):
    rows = wave57.q_tier_migration(spark, sf_dir).collect()
    n_cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert 0 <= r["from_tier"] <= 4
        assert 0 <= r["to_tier"] <= 4
    # no (0, 0) cell: every counted customer ordered in some era
    assert not any(
        r["from_tier"] == 0 and r["to_tier"] == 0 for r in rows
    )


def test_entropy_rate_bounded(spark, sf_dir):
    r = wave57.a_markov_entropy_rate(spark, sf_dir).collect()[0]
    # 5 event types -> entropy rate can't beat ln(5)
    assert 0.0 < r["entropy_rate_nats"] <= math.log(5) + 1e-9
    assert r["n_transitions_kinds"] <= 25
