"""Eighty-first-wave tests: chunk-math identity, numpy partial
correlation, and ICC bounds."""

from __future__ import annotations

import math

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave81


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave81.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave81.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_chunk_counts_match_formula(spark, sf_dir):
    rows = wave81.s_rag_chunking(spark, sf_dir).collect()
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lens = (
        docs.select(
            "lang",
            F.size(
                F.filter(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("n"),
        )
        .filter(F.col("n") > 0)
        .collect()
    )
    want: dict[str, int] = {}
    for r in lens:
        # starts at 1, 49, 97, ... while start <= n (stride 48)
        want[r["lang"]] = want.get(r["lang"], 0) + (
            (r["n"] - 1) // 48 + 1
        )
    got = {r["lang"]: r["n_chunks"] for r in rows}
    assert got == want
    for r in rows:
        assert r["expansion_factor"] >= 1.0
        assert 0 < r["mean_chunk_tokens"] <= 64


def test_partial_corr_matches_numpy(spark, sf_dir):
    r = wave81.a_partial_correlation(spark, sf_dir).collect()[0]
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per = orders.groupBy("o_custkey").agg(
        F.count("*").alias("z"), F.sum("o_totalprice").alias("y")
    )
    pdf = (
        cust.join(per, cust.c_custkey == per.o_custkey)
        .select("c_acctbal", "y", "z")
        .toPandas()
    )
    x, y, z = (
        pdf["c_acctbal"].to_numpy(),
        pdf["y"].to_numpy(),
        pdf["z"].to_numpy(dtype=float),
    )

    def corr(a, b):
        return np.corrcoef(a, b)[0, 1]

    rxy, rxz, ryz = corr(x, y), corr(x, z), corr(y, z)
    want = (rxy - rxz * ryz) / math.sqrt(
        (1 - rxz**2) * (1 - ryz**2)
    )
    assert r["partial_r_xy_given_z"] == pytest.approx(want, abs=1e-4)


def test_icc_bounds(spark, sf_dir):
    r = wave81.a_icc(spark, sf_dir).collect()[0]
    assert r["k_clusters"] == 25
    assert r["k0"] > 1
    assert -1.0 <= r["icc1"] <= 1.0
