"""Ninety-second-wave tests: invariants (null split balanced, ratio
positive and clubs shrink)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave92


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave92.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave92.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_null_split_reasonably_balanced(spark, sf_dir):
    """A fair md5 split should show small SMDs (|SMD| < 0.5 even at
    tiny n; the 0.1 'balanced' flag may legitimately vary)."""
    rows = wave92.a_covariate_balance(spark, sf_dir).collect()
    assert {r["covariate"] for r in rows} == {
        "pre_value",
        "n_events",
        "n_days",
    }
    for r in rows:
        assert abs(r["smd"]) < 0.5
        assert r["balanced"] == (abs(r["smd"]) < 0.1)


def test_rich_club_structure(spark, sf_dir):
    rows = wave92.g_rich_club(spark, sf_dir).collect()
    assert rows
    sizes = [r["n_club"] for r in rows]
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))
    for r in rows:
        assert r["rich_club_ratio"] >= 0
        assert r["m_club"] <= r["n_club"] * (r["n_club"] - 1) // 2
