"""Eighty-fourth-wave tests: invariants (vintage partition, Benford
probabilities sum to 1, matched histogram dominance)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave84


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave84.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave84.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_vintage_partitions_customers(spark, sf_dir):
    rows = wave84.q_vintage_analysis(spark, sf_dir).collect()
    n_cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    slopes = {r["trend_slope"] for r in rows}
    assert len(slopes) == 1


def test_benford_second_law(spark, sf_dir):
    assert abs(sum(wave84._BENFORD2) - 1.0) < 1e-9
    rows = wave84.a_benford_second(spark, sf_dir).collect()
    assert len(rows) == 10
    assert abs(sum(r["observed"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r["chi2_term"] >= 0


def test_matched_sample_dominance(spark, sf_dir):
    rows = wave84.s_length_matched_sample(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_kept"] == min(r["n_en"], r["n_zh"])
        assert r["n_kept"] <= r["n_en"]
