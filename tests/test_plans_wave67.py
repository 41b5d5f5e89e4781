"""Sixty-seventh-wave tests: invariants (budget respected,
Mann-Kendall vs independent computation, transitivity in [0, 1])."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave67


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave67.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave67.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_budget_respected(spark, sf_dir):
    rows = wave67.s_budget_greedy(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 < r["tokens_spent"] <= 10_000
        assert r["n_selected"] > 0
        assert r["total_utility"] > 0


def test_mann_kendall_matches_python(spark, sf_dir):
    r = wave67.a_mann_kendall(spark, sf_dir).collect()[0]
    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("y"))
        .toPandas()
        .sort_values("day")
    )
    y = daily["y"].tolist()
    n = len(y)
    S = sum(
        (1 if y[j] > y[i] else -1 if y[j] < y[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    var = n * (n - 1) * (2 * n + 5) / 18
    z = (S - 1) / math.sqrt(var) if S > 0 else (
        (S + 1) / math.sqrt(var) if S < 0 else 0.0
    )
    assert r["n_pairs"] == n * (n - 1) // 2
    assert r["s_stat"] == S
    assert r["z"] == pytest.approx(z, abs=1e-5)


def test_transitivity_range(spark, sf_dir):
    r = wave67.g_clustering_coefficient(spark, sf_dir).collect()[0]
    assert r["n_wedges"] > 0
    assert 0.0 <= r["transitivity"] <= 1.0
    assert 3 * r["n_triangles"] <= r["n_wedges"]
