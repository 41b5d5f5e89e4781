"""Eighty-sixth-wave tests: invariants (d vs numpy, MASE positivity,
shares sum to 1)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave86


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave86.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave86.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_cohens_d_matches_numpy(spark, sf_dir):
    r = wave86.a_cohens_d(spark, sf_dir).collect()[0]
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(F.sum("value").alias("tv"))
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    pdf = per.select(arm.alias("g"), "tv").toPandas()
    a = pdf[pdf["g"] == 1]["tv"].to_numpy()
    b = pdf[pdf["g"] == 0]["tv"].to_numpy()
    sp = math.sqrt(
        ((len(a) - 1) * a.var(ddof=1) + (len(b) - 1) * b.var(ddof=1))
        / (len(a) + len(b) - 2)
    )
    want = (a.mean() - b.mean()) / sp
    assert r["cohens_d"] == pytest.approx(want, abs=1e-4)


def test_mase_structure(spark, sf_dir):
    r = wave86.a_mase_seasonal(spark, sf_dir).collect()[0]
    assert r["n_seasonal_errors"] == 23  # 30 days - 7
    assert r["mae_seasonal_naive"] > 0
    assert r["mae_naive"] > 0
    assert r["mase"] == pytest.approx(
        r["mae_seasonal_naive"] / r["mae_naive"], rel=1e-4
    )


def test_char_shares_sum_to_one(spark, sf_dir):
    rows = wave86.d_char_class_profile(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        total = (
            r["letter_share"]
            + r["digit_share"]
            + r["space_share"]
            + r["other_share"]
        )
        assert total == pytest.approx(1.0, abs=1e-5)
        assert r["letter_share"] > 0.5  # word-like corpus
