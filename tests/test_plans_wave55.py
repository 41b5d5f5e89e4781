"""Fifty-fifth-wave tests: invariants (buckets ordered by mean nll,
Chapman estimate near truth, support bounds)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave55


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave55.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave55.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_quality_buckets_ordered(spark, sf_dir):
    rows = wave55.d_quality_buckets(spark, sf_dir).collect()
    by_lang: dict[str, dict[int, float]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r["mean_nll"]
        assert r["n_docs"] > 0
    for lang, d in by_lang.items():
        assert set(d) == {1, 2, 3}
        # ntile ordered by nll ascending: head < middle < tail
        assert d[1] <= d[2] <= d[3]


def test_capture_recapture_near_truth(spark, sf_dir):
    r = wave55.a_capture_recapture(spark, sf_dir).collect()[0]
    assert r["m"] <= min(r["n1"], r["n2"])
    assert r["n1"] < r["true_n"] and r["n2"] < r["true_n"]
    # Chapman is nearly unbiased; with p=0.4 samples the estimate
    # lands within a loose factor of the truth even at small n
    assert 0.5 * r["true_n"] <= r["chapman_est"] <= 2.0 * r["true_n"]


def test_edge_support_bounds(spark, sf_dir):
    rows = wave55.g_edge_support(spark, sf_dir).collect()
    assert rows
    total_edges = sum(r["n_edges"] for r in rows)
    assert total_edges > 0
    for r in rows:
        assert r["support"] >= 0
        assert r["n_edges"] > 0
