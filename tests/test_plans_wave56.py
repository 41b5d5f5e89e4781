"""Fifty-sixth-wave tests: numpy references for MMD, Theil-Sen, and
the adstock recursion."""

from __future__ import annotations

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave56


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave56.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave56.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_mmd_matches_numpy(spark, sf_dir):
    r = wave56.e_embedding_mmd(spark, sf_dir).collect()[0]
    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    mat = np.array([np.array(v, dtype=np.float64) for v in pdf["embedding"]])
    grp = pdf["label"].to_numpy() % 2
    m0 = mat[grp == 0].mean(axis=0)
    m1 = mat[grp == 1].mean(axis=0)
    want = float(((m0 - m1) ** 2).sum())
    assert r["mmd2"] == pytest.approx(want, abs=1e-6)  # 6dp rounding
    assert r["n_dims"] == mat.shape[1]


def test_theil_sen_matches_numpy(spark, sf_dir):
    r = wave56.a_theil_sen(spark, sf_dir).collect()[0]
    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("rev"))
        .toPandas()
        .sort_values("day")
    )
    d = np.arange(len(daily))
    rev = daily["rev"].to_numpy()
    slopes = [
        (rev[j] - rev[i]) / (j - i)
        for i in range(len(d))
        for j in range(i + 1, len(d))
    ]
    slopes.sort()
    want = slopes[(len(slopes) + 1) // 2 - 1]
    assert r["n_pairs"] == len(slopes)
    assert r["theil_sen_slope"] == pytest.approx(want, rel=1e-4)


def test_adstock_matches_numpy(spark, sf_dir):
    r = wave56.q_adstock_ols(spark, sf_dir).collect()[0]
    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("long")).alias("c"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ).alias("rev"),
        )
        .toPandas()
        .sort_values("day")
    )
    x = []
    carry = 0.0
    for c in daily["c"]:
        carry = c + 0.5 * carry
        x.append(carry)
    x = np.array(x)
    y = daily["rev"].to_numpy()
    beta = np.cov(x, y, ddof=0)[0, 1] / np.var(x)
    alpha = y.mean() - beta * x.mean()
    assert r["n_days"] == len(x)
    assert r["beta_adstock"] == pytest.approx(beta, rel=1e-4)
    assert r["alpha"] == pytest.approx(alpha, rel=1e-4)
