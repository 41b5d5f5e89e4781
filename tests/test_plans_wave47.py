"""Forty-seventh-wave tests: invariants (co-purchase cosine
bounds/symmetric evidence, rolling-corr range, CUPED preserves the
arm totals' direction while shrinking variance).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave47


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave47.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave47.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_copurchase_similarity_properties(spark, sf_dir):
    rows = wave47.j_copurchase_topk(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["sim"] <= 1.0
        assert r["co"] >= 1
        assert r["p1"] < 50
        assert r["p1"] != r["p2"]
    # ranks are dense per p1
    by_p1: dict[int, list[int]] = {}
    for r in rows:
        by_p1.setdefault(r["p1"], []).append(r["rnk"])
    for rnks in by_p1.values():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))


def test_rolling_corr_in_range(spark, sf_dir):
    rows = wave47.q_rolling_corr_daily(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_days"] <= 7
        if r["corr"] is not None:
            assert -1.0 <= r["corr"] <= 1.0


def test_cuped_consistency(spark, sf_dir):
    rows = wave47.a_cuped_adjustment(spark, sf_dir).collect()
    assert len(rows) == 2
    assert rows[0]["theta"] == rows[1]["theta"]
    # the adjustment is mean-zero over the pooled population up to
    # per-arm reshuffling: pooled totals agree closely
    raw = sum(r["sum_y"] for r in rows)
    adj = sum(r["sum_y_adj"] for r in rows)
    assert abs(raw - adj) / max(abs(raw), 1.0) < 1e-6


def test_cuped_reduces_user_level_variance(spark, sf_dir):
    """The point of CUPED: y_adj has no higher variance than y."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cut = F.lit("2024-01-16").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.to_date("ts") < cut, F.col("value")).otherwise(0.0)
        ).alias("x"),
        F.sum(
            F.when(F.to_date("ts") >= cut, F.col("value")).otherwise(0.0)
        ).alias("y"),
    )
    import numpy as np

    pdf = per_user.toPandas()
    x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    theta = np.cov(x, y, ddof=0)[0, 1] / np.var(x)
    y_adj = y - theta * (x - x.mean())
    assert np.var(y_adj) <= np.var(y) + 1e-9
