"""Eighty-third-wave tests: invariants (removal accounting +
contamination actually found, Borda bounds, Theil >= 0).
"""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave83


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave83.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave83.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_decontamination_accounting(spark, sf_dir):
    rows = wave83.s_decontaminate_split(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_train_before"] == r["n_removed"] + r["n_train_after"]
        assert r["n_train_after"] > 0
    # planted near-dups guarantee at least some contamination overall
    assert sum(r["n_removed"] for r in rows) >= 1


def test_borda_structure(spark, sf_dir):
    rows = wave83.a_borda_ranking(spark, sf_dir).collect()
    assert [r["consensus_rank"] for r in rows] == list(range(1, 11))
    bordas = [r["borda"] for r in rows]
    assert all(a <= b for a, b in zip(bordas, bordas[1:]))
    for r in rows:
        assert 3 <= r["borda"] <= 75  # ranks in 1..25 each
        assert r["r_rev"] >= 1 and r["r_cust"] >= 1 and r["r_bal"] >= 1


def test_theil_nonnegative(spark, sf_dir):
    r = wave83.a_theil_index(spark, sf_dir).collect()[0]
    assert r["theil_t"] >= 0.0
    assert r["n_customers"] > 0
