"""Fifty-ninth-wave tests: invariants (mSPRT lambda monotone-ish
sanity, quantization error tiny and positive, stratified lift
bracketed by the raw lift magnitudes)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave59


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave59.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave59.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_msprt_structure(spark, sf_dir):
    rows = wave59.a_msprt_monitor(spark, sf_dir).collect()
    assert len(rows) == 30
    prev_n0 = prev_n1 = 0
    for r in rows:
        assert r["n0"] > prev_n0 and r["n1"] > prev_n1
        prev_n0, prev_n1 = r["n0"], r["n1"]
        assert r["msprt_lambda"] > 0
        assert r["significant"] == (r["msprt_lambda"] > 20.0)
    # a null effect (md5 split of the same stream) should NOT fire
    assert not any(r["significant"] for r in rows)


def test_quantization_error_small(spark, sf_dir):
    rows = wave59.e_quantization_error(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # int8 (256-level) quantization of a bounded range keeps MSE
        # around (range/255)^2 / 12 — tiny but nonzero
        assert 0 < r["mse_x1e6"] < 100
        assert r["n_values"] > 0


def test_poststratified_lift_bounded(spark, sf_dir):
    r = wave59.a_poststratified_lift(spark, sf_dir).collect()[0]
    assert 0 < r["conv0"] < r["users0"]
    assert 0 < r["conv1"] < r["users1"]
    assert -1.0 <= r["stratified_lift"] <= 1.0
