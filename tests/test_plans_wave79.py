"""Seventy-ninth-wave tests: invariants (noise distribution sanity,
SRM null behavior, pacing ends at 31/31)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave79


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave79.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave79.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_noise_sanity(spark, sf_dir):
    rows = wave79.s_dp_noisy_counts(spark, sf_dir).collect()
    assert len(rows) == 25
    noises = [r["noise"] for r in rows]
    # Laplace(1) noise: both signs present, mean near 0, tails small
    assert any(n > 0 for n in noises) and any(n < 0 for n in noises)
    assert abs(sum(noises) / len(noises)) < 2.0
    for r in rows:
        assert r["released_n"] >= 0.0
        assert abs(r["released_n"] - r["true_n"]) <= abs(r["noise"]) + 1e-6


def test_srm_null_split_clean(spark, sf_dir):
    """The md5 split is a fair coin — SRM must NOT alarm on it."""
    r = wave79.a_srm_check(spark, sf_dir).collect()[0]
    assert r["n0"] + r["n1"] > 0
    assert not r["srm_alarm"]
    assert r["chi2"] >= 0


def test_pacing_terminal(spark, sf_dir):
    rows = wave79.q_revenue_pacing(spark, sf_dir).collect()
    assert rows[-1]["d"] == 30
    # cumulative revenue is complete by day 30; target line reaches
    # the full total only at day 31, so final pace = 31/30 ~ 1.033
    assert rows[-1]["pace_ratio"] == pytest.approx(31 / 30, rel=1e-6)
    cums = [r["cum_rev"] for r in rows]
    assert all(a < b for a, b in zip(cums, cums[1:]))
