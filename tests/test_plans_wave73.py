"""Seventy-third-wave tests: invariants (burstiness in (-1, 1),
catalog curve monotone and complete, churn flags bounded)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave73


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave73.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave73.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_burstiness_range(spark, sf_dir):
    rows = wave73.d_interarrival_burstiness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 < r["mean_burstiness"] < 1.0
        assert r["n_users"] > 0


def test_catalog_growth_monotone_complete(spark, sf_dir):
    rows = wave73.q_catalog_growth(spark, sf_dir).collect()
    sizes = [r["catalog_size"] for r in rows]
    assert all(a < b for a, b in zip(sizes, sizes[1:]))
    n_parts = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sizes[-1] == n_parts
    assert sum(r["new_parts"] for r in rows) == n_parts


def test_churn_flags_bounded(spark, sf_dir):
    rows = wave73.q_churn_risk_flags(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_at_risk"] <= r["n_users"]
