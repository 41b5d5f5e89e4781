"""Seventy-fifth-wave tests: invariants (BH discovery prefix
property, evenness range, range-frame symmetry)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave75


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave75.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave75.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_bh_discovery_prefix(spark, sf_dir):
    """BH discoveries are exactly the rank prefix up to the largest
    passing index — never a gap."""
    rows = wave75.a_bh_fdr(spark, sf_dir).collect()
    assert len(rows) == 25
    flags = [r["discovery"] for r in rows]  # ordered by rnk
    if any(flags):
        last_true = max(i for i, f in enumerate(flags) if f)
        assert all(flags[: last_true + 1])
        assert not any(flags[last_true + 1 :])
    zs = [r["abs_z"] for r in rows]
    assert all(a >= b for a, b in zip(zs, zs[1:]))


def test_evenness_range(spark, sf_dir):
    rows = wave75.d_source_evenness(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 <= r["evenness"] <= 1.0 + 1e-9


def test_range_frame_counts(spark, sf_dir):
    rows = wave75.w_price_range_frame(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_within_1000"] >= 1  # at least itself
