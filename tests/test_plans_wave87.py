"""Eighty-seventh-wave tests: invariants (W+ in range, spectrum
partitions vocab, triangle ordering)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave87


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave87.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave87.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_wilcoxon_range(spark, sf_dir):
    r = wave87.a_wilcoxon_signed(spark, sf_dir).collect()[0]
    m = r["n_nonzero"]
    assert 0 <= r["w_plus"] <= m * (m + 1) / 2
    assert r["expected_w"] == pytest.approx(m * (m + 1) / 4, rel=1e-6)
    assert math.isfinite(r["z"])


def test_spectrum_partitions_vocab(spark, sf_dir):
    rows = wave87.d_freq_spectrum(spark, sf_dir).collect()
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = (
        docs.select(
            "lang",
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("w"),
        )
        .groupBy("lang")
        .agg(F.countDistinct("w").alias("v"))
        .collect()
    )
    want = {r["lang"]: r["v"] for r in vocab}
    got: dict[str, int] = {}
    for r in rows:
        got[r["lang"]] = got.get(r["lang"], 0) + r["n_types"]
        assert 1 <= r["freq_class"] <= 5
    assert got == want


def test_triangle_ordering(spark, sf_dir):
    rows = wave87.g_top_triangles(spark, sf_dir).collect()
    assert rows
    weights = [r["bottleneck"] for r in rows]
    assert all(a >= b for a, b in zip(weights, weights[1:]))
    for r in rows:
        assert r["x"] < r["y"] < r["z"]
        assert r["bottleneck"] >= 2
