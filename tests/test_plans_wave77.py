"""Seventy-seventh-wave tests: invariants (ego density in [0,1],
kappa below po, positional totals reconcile)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave77


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave77.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave77.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_ego_density_range(spark, sf_dir):
    rows = wave77.g_ego_density(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ego_density"] <= 1.0
        assert r["edges_among"] <= r["k_neighbors"] * (
            r["k_neighbors"] - 1
        ) // 2


def test_kappa_structure(spark, sf_dir):
    r = wave77.a_cohens_kappa(spark, sf_dir).collect()[0]
    assert 0.0 <= r["po"] <= 1.0
    assert 0.0 < r["pe"] < 1.0
    # kappa <= po always; and kappa < 1 unless perfect agreement
    assert r["kappa"] <= r["po"] + 1e-9
    assert -1.0 <= r["kappa"] <= 1.0


def test_positional_totals(spark, sf_dir):
    rows = wave77.d_positional_profile(spark, sf_dir).collect()
    assert [r["bucket"] for r in rows] == [0, 1, 2, 3, 4]
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total = docs.select(
        F.size(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert sum(r["n_tokens"] for r in rows) == total
    for r in rows:
        assert r["mean_token_len"] > 0
        assert 0.0 < r["distinct_share"] <= 1.0
