"""Eightieth-wave tests: invariants (DW in (0,4), F1 between
precision/recall bounds, confusion totals reconcile)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave80


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave80.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave80.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_dw_range(spark, sf_dir):
    r = wave80.a_durbin_watson(spark, sf_dir).collect()[0]
    assert 0.0 < r["durbin_watson"] < 4.0


def test_f1_bounds(spark, sf_dir):
    rows = wave80.a_macro_f1(spark, sf_dir).collect()
    assert rows
    for r in rows:
        p, rc, f1 = r["precision"], r["recall"], r["f1"]
        assert 0.0 <= p <= 1.0 and 0.0 <= rc <= 1.0
        # harmonic mean lies between min and max of (p, r)
        assert min(p, rc) - 1e-6 <= f1 <= max(p, rc) + 1e-6
        assert r["support"] > 0


def test_confusion_reconciles(spark, sf_dir):
    rows = wave80.d_langid_confusion(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n"] for r in rows) == docs.count()
    langs = {"de", "en", "es", "fr", "zh"}
    for r in rows:
        assert r["truth"] in langs
        assert r["lang_guess"] in langs
