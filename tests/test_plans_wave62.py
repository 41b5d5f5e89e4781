"""Sixty-second-wave tests: invariants (HT close to truth,
progressive fees bounded by flat top-rate fees, triplet counts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave62


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave62.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave62.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_ht_estimate_near_truth(spark, sf_dir):
    """HT is unbiased; with PPS weights on this skew the single
    deterministic draw should land within 25% of truth."""
    r = wave62.a_horvitz_thompson(spark, sf_dir).collect()[0]
    assert r["n_sampled"] > 0
    assert abs(r["ht_estimate"] - r["true_total"]) / r["true_total"] < 0.25


def test_progressive_fee_bounds(spark, sf_dir):
    rows = wave62.q_progressive_fees(spark, sf_dir).collect()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    totals = {
        r["o_orderpriority"]: r["t"]
        for r in orders.groupBy("o_orderpriority")
        .agg(F.sum("o_totalprice").alias("t"))
        .collect()
    }
    for r in rows:
        t = totals[r["o_orderpriority"]]
        # fees bracket between the lowest flat rate (100 bps) and the
        # top flat rate (400 bps) applied to the full amount
        assert 0.01 * t - 1 <= r["total_fees"] <= 0.04 * t + 1
        assert r["n_orders"] > 0


def test_triplet_counts(spark, sf_dir):
    r = wave62.e_triplet_violations(spark, sf_dir).collect()[0]
    assert r["n_triplets"] == 30
    assert 0 <= r["n_violations"] <= 30
    assert r["violation_rate"] == pytest.approx(
        r["n_violations"] / 30, abs=1e-6
    )
