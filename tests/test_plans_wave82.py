"""Eighty-second-wave tests: invariants (null ATT small vs scale,
curve monotone decreasing, chi2 shared)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave82


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave82.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave82.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_matching_structure(spark, sf_dir):
    r = wave82.a_nn_matching_att(spark, sf_dir).collect()[0]
    assert r["n_matched"] > 0
    assert r["mean_match_distance"] >= 0
    assert math.isfinite(r["att"])


def test_threshold_curve_monotone(spark, sf_dir):
    rows = wave82.d_jaccard_threshold_curve(spark, sf_dir).collect()
    assert [r["tau"] for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    counts = [r["n_pairs"] for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[0] > 0


def test_endings_shared_chi2(spark, sf_dir):
    rows = wave82.q_price_endings(spark, sf_dir).collect()
    assert len(rows) == 3
    chis = {r["chi2"] for r in rows}
    assert len(chis) == 1
    assert chis.pop() >= 0
    for r in rows:
        assert 0 <= r["cents"] <= 99
