"""Seventy-first-wave tests: the growth-accounting identity, Hill
positivity, and overlap bounds."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave71


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave71.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave71.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_growth_accounting_identity(spark, sf_dir):
    rows = wave71.q_growth_accounting(spark, sf_dir).collect()
    assert rows
    for i, r in enumerate(rows):
        assert (
            r["actives"] == r["new"] + r["retained"] + r["resurrected"]
        )
        if i > 0:
            prev = rows[i - 1]
            # everyone active last week is either retained or churned
            assert r["retained"] + r["churned"] == prev["actives"]
    assert rows[0]["new"] == rows[0]["actives"]  # first week: all new


def test_hill_positive(spark, sf_dir):
    r = wave71.a_hill_tail_index(spark, sf_dir).collect()[0]
    assert r["k"] == 100
    assert r["mean_log_excess"] > 0
    assert r["hill_alpha"] > 0
    assert r["hill_alpha"] == pytest.approx(
        1.0 / r["mean_log_excess"], rel=1e-4
    )


def test_overlap_bounds(spark, sf_dir):
    rows = wave71.d_vocab_overlap(spark, sf_dir).collect()
    assert len(rows) == 10  # 5 choose 2
    for r in rows:
        assert 0.0 < r["overlap_coef"] <= 1.0
        assert r["ninter"] >= 1
