"""Seventy-sixth-wave tests: invariants (repeat bounds, Oaxaca
identity, alpha vs numpy)."""

from __future__ import annotations

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave76


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave76.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave76.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_repeat_rate_bounds(spark, sf_dir):
    rows = wave76.q_repeat_purchase_rate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_repeat"] <= r["n_buyers"]
        assert 0.0 <= r["repeat_rate"] <= 1.0


def test_alpha_matches_numpy(spark, sf_dir):
    r = wave76.a_cronbach_alpha(spark, sf_dir).collect()[0]
    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    mat = np.array(
        [np.array(v[:5], dtype=np.float64) for v in pdf["embedding"]]
    )
    item_vars = mat.var(axis=0, ddof=1).sum()
    tot_var = mat.sum(axis=1).var(ddof=1)
    want = (5 / 4) * (1 - item_vars / tot_var)
    assert r["cronbach_alpha"] == pytest.approx(want, abs=1e-5)


def test_oaxaca_identity(spark, sf_dir):
    r = wave76.a_oaxaca_decomposition(spark, sf_dir).collect()[0]
    assert r["mean_gap"] == pytest.approx(
        r["explained_endowments"] + r["unexplained"], abs=2e-6
    )
    assert r["beta_rest"] > 0  # more orders -> more spend
    assert r["beta_building"] > 0
