"""Ninety-first-wave tests: invariants (EOQ square-root law, LB vs
numpy, coverage bounds)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave91


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave91.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave91.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_eoq_sqrt_law(spark, sf_dir):
    rows = wave91.q_eoq(spark, sf_dir).collect()
    assert rows
    for r in rows:
        want = math.sqrt(2 * r["annual_demand"] * 100 / 2)
        assert r["eoq"] == pytest.approx(want, rel=1e-4)
        assert r["annual_demand"] > 0


def test_ljung_box_matches_numpy(spark, sf_dir):
    r = wave91.a_ljung_box(spark, sf_dir).collect()[0]
    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("y"))
        .toPandas()
        .sort_values("day")
    )
    y = daily["y"].to_numpy()
    e = y - y.mean()
    n = len(e)
    c0 = float(e @ e)
    q = 0.0
    for k in range(1, 6):
        rk = float(e[k:] @ e[:-k]) / c0
        assert r[f"r{k}"] == pytest.approx(rk, abs=1e-4)
        q += rk * rk / (n - k)
    want = n * (n + 2) * q
    assert r["lb_q"] == pytest.approx(want, rel=1e-3)
    assert r["reject_whiteness"] == (r["lb_q"] > 11.0705)


def test_coverage_bounds(spark, sf_dir):
    rows = wave91.d_test_ngram_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_covered"] <= r["n_test_grams"]
        assert 0.0 <= r["coverage"] <= 1.0
