"""Fifty-third-wave tests: references (ANOVA vs numpy, Kendall
bounds, Mahalanobis vs numpy top set)."""

from __future__ import annotations

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave53


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave53.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave53.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_anova_matches_numpy(spark, sf_dir):
    r = wave53.a_anova_oneway(spark, sf_dir).collect()[0]
    pdf = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_nationkey", "c_acctbal")
        .toPandas()
    )
    groups = [g["c_acctbal"].to_numpy() for _, g in pdf.groupby("c_nationkey")]
    allv = pdf["c_acctbal"].to_numpy()
    grand = allv.mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    k, n = len(groups), len(allv)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r["k_groups"] == k
    assert r["n_total"] == n
    assert r["ss_between"] == pytest.approx(ssb, rel=1e-6)
    assert r["ss_within"] == pytest.approx(ssw, rel=1e-6)
    assert r["f_stat"] == pytest.approx(f, rel=1e-5)


def test_kendall_bounds(spark, sf_dir):
    r = wave53.a_kendall_tau(spark, sf_dir).collect()[0]
    assert r["n_pairs"] == 25 * 24 // 2
    assert -1.0 <= r["kendall_tau"] <= 1.0
    assert 0 <= r["n_concordant"] <= r["n_pairs"]


def test_mahalanobis_matches_numpy(spark, sf_dir):
    rows = wave53.e_embedding_outliers(spark, sf_dir).collect()
    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    mat = np.array([np.array(v, dtype=np.float64) for v in pdf["embedding"]])
    mu = mat.mean(axis=0)
    var = mat.var(axis=0)
    d = np.sqrt((((mat - mu) ** 2) / var).sum(axis=1))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -d))[:10]
    want = list(pdf["vec_id"].to_numpy()[order])
    got = [r["vec_id"] for r in rows]
    assert got == want
    for r, i in zip(rows, order):
        assert r["mdist"] == pytest.approx(d[i], rel=1e-5)
