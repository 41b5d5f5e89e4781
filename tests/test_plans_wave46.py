"""Forty-sixth-wave tests: invariants (stickiness bounds, fold
partition, Murphy identity direction)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave46


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave46.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave46.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_stickiness_bounds(spark, sf_dir):
    rows = wave46.q_dau_wau_stickiness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["dau"] <= r["wau"]
        assert 0.0 < r["stickiness"] <= 1.0


def test_folds_partition_orders(spark, sf_dir):
    rows = wave46.s_purged_time_folds(spark, sf_dir).collect()
    assert len(rows) == 5
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r["n_val"] for r in rows) == n_orders
    for r in rows:
        assert r["n_val"] + r["n_train"] + r["n_embargoed"] == n_orders
        assert r["n_embargoed"] >= 0
        assert r["val_start"] <= r["val_end"]


def test_ngram_diversity_monotone_in_n(spark, sf_dir):
    """Higher-order n-grams are at least as diverse as lower ones on
    natural-ish text."""
    rows = wave46.d_ngram_diversity(spark, sf_dir).collect()
    by_lang: dict[str, dict[int, float]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["n"]] = r["diversity"]
    for lang, d in by_lang.items():
        assert set(d) == {1, 2, 3}
        assert d[1] <= d[2] <= d[3]


def test_brier_identity_holds_approximately(spark, sf_dir):
    r = wave46.a_brier_decomposition(spark, sf_dir).collect()[0]
    # Murphy identity is exact for the BINNED forecast; with the raw
    # score inside each bin it holds up to within-bin variance (>= 0).
    recomposed = r["reliability"] - r["resolution"] + r["uncertainty"]
    assert r["brier"] >= recomposed - 1e-6
    assert abs(r["brier"] - recomposed) < 0.05
    assert 0.0 <= r["brier"] <= 1.0
