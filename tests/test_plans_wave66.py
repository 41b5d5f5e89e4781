"""Sixty-sixth-wave tests: numpy references for the SSE split and
invariants (AM-GM, over-dispersion direction)."""

from __future__ import annotations

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave66


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave66.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave66.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_best_split_matches_numpy(spark, sf_dir):
    r = wave66.a_best_split_sse(spark, sf_dir).collect()[0]
    from pyspark.sql import functions as F

    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("y"))
        .toPandas()
        .sort_values("day")
    )
    y = daily["y"].to_numpy()
    n = len(y)

    def sse(a):
        return ((a - a.mean()) ** 2).sum() if len(a) else 0.0

    best_k, best = None, np.inf
    for k in range(2, n - 1):
        s = sse(y[:k]) + sse(y[k:])
        if s < best - 1e-9:
            best_k, best = k, s
    assert r["split_after_day"] == best_k - 1
    assert r["sse_split"] == pytest.approx(best, rel=1e-6)
    assert 0.0 <= r["explained"] <= 1.0


def test_negbin_overdispersion_direction(spark, sf_dir):
    r = wave66.a_negbin_moments(spark, sf_dir).collect()[0]
    assert r["mean_events"] > 0
    assert r["var_events"] > 0
    # NB requires var > mean for a valid (r, p); if the stream is
    # under-dispersed p_hat > 1 and r_hat < 0 — flag either way
    if r["var_events"] > r["mean_events"]:
        assert 0 < r["p_hat"] < 1 and r["r_hat"] > 0
    else:
        assert r["p_hat"] >= 1


def test_atkinson_am_gm(spark, sf_dir):
    r = wave66.a_atkinson_index(spark, sf_dir).collect()[0]
    # AM >= GM on positive values => index in [0, 1)
    assert r["geomean_bal"] <= r["mean_bal"]
    assert 0.0 <= r["atkinson_eps1"] < 1.0
