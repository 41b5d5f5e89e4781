"""Sixty-first-wave tests: invariants (win-ratio accounting, triple
support dominated by pair support, dispersion positive and
distribution reconciles)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave61
from idn_area_etl_spark.plans.wave49 import q_seq_pattern_support


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave61.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave61.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_win_ratio_accounting(spark, sf_dir):
    r = wave61.a_win_ratio(spark, sf_dir).collect()[0]
    assert r["wins"] + r["losses"] <= r["n_pairs"]
    assert r["wins"] > 0 and r["losses"] > 0
    assert r["win_ratio"] == pytest.approx(
        r["wins"] / r["losses"], abs=1e-6
    )


def test_triple_support_dominated_by_pairs(spark, sf_dir):
    """Support of (a, b, c) can never exceed support of (a, c)."""
    triples = {
        (r["ta"], r["tb"], r["tc"]): r["support_users"]
        for r in wave61.q_seq_triple_support(spark, sf_dir).collect()
    }
    pairs = {
        (r["etype_a"], r["etype_b"]): r["support_users"]
        for r in q_seq_pattern_support(spark, sf_dir).collect()
    }
    assert triples
    for (a, b, c), sup in triples.items():
        assert sup <= pairs[(a, c)]
        assert sup <= pairs[(a, b)]


def test_basket_dispersion_structure(spark, sf_dir):
    rows = wave61.q_basket_dispersion(spark, sf_dir).collect()
    n_orders = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert sum(r["n_orders"] for r in rows) == n_orders
    disp = {r["dispersion_index"] for r in rows}
    assert len(disp) == 1
    assert disp.pop() > 0
