"""Seventy-second-wave tests: shrinkage-toward-the-mean, attach
bounds, and lognormal consistency."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave72


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave72.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave72.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_attach_bounds(spark, sf_dir):
    rows = wave72.q_attach_rate_lift(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["attach_rate"] < 1.0
        assert r["order_value_lift"] > 0
        assert r["n_with"] >= 1


def test_shrinkage_toward_grand_mean(spark, sf_dir):
    rows = wave72.a_eb_shrinkage(spark, sf_dir).collect()
    assert len(rows) == 25
    grand = sum(r["raw_rate"] for r in rows) / len(rows)
    for r in rows:
        lo = min(r["raw_rate"], grand) - 1e-9
        hi = max(r["raw_rate"], grand) + 1e-9
        # shrunk rate lies between the raw rate and the prior mean
        assert lo <= r["shrunk_rate"] <= hi
        assert 0.0 <= r["shrunk_rate"] <= 1.0


def test_lognormal_consistency(spark, sf_dir):
    rows = wave72.d_lognormal_fit(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["sigma"] > 0
        assert r["median_len"] == pytest.approx(
            math.exp(r["mu"]), rel=1e-4
        )
