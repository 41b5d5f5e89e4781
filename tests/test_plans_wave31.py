"""Thirty-first-wave tests: invariants — skew-report identities,
weighted-median definition check, conversion bounds. (BPE has its
own exact-reference suite in test_bpe.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave31
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave31_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave31.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave31.SPECS if s.oracle is not None]
)
def test_wave31_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_skew_report_identities(spark, sf_dir):
    row = wave31.q_skew_report(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").count()
    assert row["n_keys"] == per_key.count()
    assert row["max_cnt"] == per_key.agg(F.max("count")).collect()[0][0]
    assert row["skew_ratio"] >= 1.0
    assert len(row["hot_keys"].split(",")) == wave31.SKEW_TOP_KEYS


def test_weighted_median_definition(spark, sf_dir):
    rows = wave31.q_weighted_median_price(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias(
            "price"
        ),
        "l_quantity",
    )
    pdf = li.toPandas()
    for r in rows:
        grp = pdf[pdf.l_returnflag == r["l_returnflag"]].sort_values("price")
        cum = grp.l_quantity.cumsum()
        half = grp.l_quantity.sum() / 2
        expected = grp.price[cum >= half].iloc[0]
        assert abs(r["weighted_median_price"] - expected) < 1e-9


def test_conversion_counts_bounded(spark, sf_dir):
    rows = wave31.q_conversion_latency(spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r["n_converted"] <= r["n_signups"]
        if r["n_converted"]:
            assert r["mean_latency_hours"] >= 0
