"""Eighty-ninth-wave tests: invariants (confusion totals, MCC range,
band coverage, rate bounds)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave89


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave89.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave89.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_mcc_structure(spark, sf_dir):
    r = wave89.a_mcc(spark, sf_dir).collect()[0]
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == n_vecs
    assert -1.0 <= r["mcc"] <= 1.0


def test_discount_bands(spark, sf_dir):
    rows = wave89.q_discount_response(spark, sf_dir).collect()
    assert [r["band"] for r in rows] == list(range(0, 11))
    slopes = {r["qty_slope"] for r in rows}
    assert len(slopes) == 1
    for r in rows:
        assert r["mean_qty"] > 0


def test_return_rates_bounded(spark, sf_dir):
    rows = wave89.q_return_rate_by_discount(spark, sf_dir).collect()
    li_count = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert sum(r["n_lines"] for r in rows) == li_count
    for r in rows:
        assert 0.0 <= r["return_rate"] <= 1.0
        assert r["n_returned"] <= r["n_lines"]
