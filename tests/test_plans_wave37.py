"""Thirty-seventh-wave tests: invariants — interpolation correctness
on a planted gap series, waterfall effects sum to the revenue delta,
percent-rank bounds."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave37


def test_all_wave37_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave37.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave37.SPECS if s.oracle is not None]
)
def test_wave37_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_gapfill_interpolates_linearly(spark, sf_dir):
    rows = wave37.q_linear_gapfill(spark, sf_dir).collect()
    by_day = {r["day"]: r for r in rows}
    days = sorted(by_day)
    # continuous day axis
    assert all((b - a).days == 1 for a, b in zip(days, days[1:]))
    # observed days keep their exact value
    for r in rows:
        if r["observed"] is not None:
            assert r["filled"] == float(r["observed"])
    # a gap day's fill is the exact linear blend of its neighbors
    obs_days = [d for d in days if by_day[d]["observed"] is not None]
    for prev_d, next_d in zip(obs_days, obs_days[1:]):
        span = (next_d - prev_d).days
        if span <= 1:
            continue
        for mid in (d for d in days if prev_d < d < next_d):
            frac = (mid - prev_d).days / span
            expect = by_day[prev_d]["observed"] + frac * (
                by_day[next_d]["observed"] - by_day[prev_d]["observed"]
            )
            assert abs(by_day[mid]["filled"] - expect) < 1e-6


def test_waterfall_effects_sum_to_delta(spark, sf_dir):
    rows = wave37.q_price_volume_waterfall(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        delta = r["rev_p2"] - r["rev_p1"]
        assert abs((r["volume_effect"] + r["price_effect"]) - delta) < 0.01


def test_rank_normalize_top_is_one(spark, sf_dir):
    rows = wave37.q_rank_normalize(spark, sf_dir).collect()
    for r in rows:
        assert abs(r["top_scaled"] - 1.0) < 1e-9
