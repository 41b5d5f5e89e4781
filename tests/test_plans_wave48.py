"""Forty-eighth-wave tests: invariants (gains monotone, Wilson
bounds bracket the rate, Heaps growth concave-ish).
"""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave48


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave48.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave48.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_gains_monotone_and_bounded(spark, sf_dir):
    rows = wave48.a_cumulative_gains(spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    caps = [r["cum_capture"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(caps, caps[1:]))
    assert abs(caps[-1] - 1.0) < 1e-9
    assert abs(rows[-1]["cum_lift"] - 1.0) < 1e-9
    # the scorer is near-random on synthetic data, so lift is NOT
    # necessarily monotone — but it is always positive and bounded by
    # the best-possible capture ratio
    for r in rows:
        assert r["cum_lift"] > 0.0
        assert r["cum_capture"] <= 1.0 + 1e-9


def test_wilson_brackets_rate(spark, sf_dir):
    rows = wave48.q_hourly_conversion_wilson(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["wilson_lo"] <= r["rate"] <= r["wilson_hi"] <= 1.0
        assert r["k"] <= r["n"]


def test_vocab_growth_monotone(spark, sf_dir):
    rows = wave48.d_vocab_growth(spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    toks = [r["cum_tokens"] for r in rows]
    voc = [r["vocab"] for r in rows]
    assert all(a < b for a, b in zip(toks, toks[1:]))
    assert all(a <= b for a, b in zip(voc, voc[1:]))
    betas = {r["heaps_beta"] for r in rows}
    assert len(betas) == 1
    # vocabulary grows sublinearly (or saturates) on shared-vocab text
    (beta,) = betas
    assert beta < 1.0
