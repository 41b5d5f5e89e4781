"""Seventy-fourth-wave tests: invariants (cap accounting, R^2 in
[0,1], LOO excludes self)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave74


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave74.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave74.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_frequency_cap_accounting(spark, sf_dir):
    rows = wave74.s_frequency_cap(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert r["n_kept"] + r["n_removed"] == r["n_docs"]
        # the soft cap keeps strictly more than keep-one would only
        # when groups of >= 2 exist; either way kept >= 1 per lang
        assert r["n_kept"] >= 1


def test_dow_r2_range(spark, sf_dir):
    r = wave74.a_dow_strength(spark, sf_dir).collect()[0]
    assert r["n_days"] == 30
    assert 0.0 <= r["dow_r2"] <= 1.0


def test_loo_excludes_self(spark, sf_dir):
    rows = wave74.s_target_encoding_loo(spark, sf_dir).collect()
    assert rows
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"), F.sum("c_acctbal").alias("s"))
        .collect()
    )
    stats = {r["c_nationkey"]: (r["n"], r["s"]) for r in cust}
    for r in rows:
        n, s = stats[r["c_nationkey"]]
        want = (s - r["own_bal"]) / (n - 1)
        assert r["loo_encoding"] == pytest.approx(want, rel=1e-4)
