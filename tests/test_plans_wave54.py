"""Fifty-fourth-wave tests: keep-best invariants (exactly one keeper
per cluster, keeper is longest), Spearman vs scipy-free numpy
reference, DiD cell identity."""

from __future__ import annotations

import math

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave54


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave54.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave54.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_keep_best_retention_structure(spark, sf_dir):
    rows = wave54.s_dedup_keep_best(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 < r["n_kept"] <= r["n_docs"]
        assert 0 < r["kept_chars"] <= r["total_chars"]
    # something was actually removed (planted near-dups)
    assert sum(r["n_kept"] for r in rows) < sum(r["n_docs"] for r in rows)


def test_spearman_matches_numpy(spark, sf_dir):
    r = wave54.a_spearman_corr(spark, sf_dir).collect()[0]
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_acctbal")
        .toPandas()
        .sort_values("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .count()
        .toPandas()
    )
    cnt = dict(zip(orders["o_custkey"], orders["count"]))
    x = cust["c_acctbal"].to_numpy()
    y = np.array([cnt.get(k, 0) for k in cust["c_custkey"]], dtype=float)
    keys = cust["c_custkey"].to_numpy()
    rx = np.empty(len(x))
    rx[np.lexsort((keys, x))] = np.arange(1, len(x) + 1)
    ry = np.empty(len(y))
    ry[np.lexsort((keys, y))] = np.arange(1, len(y) + 1)
    want = np.corrcoef(rx, ry)[0, 1]
    assert r["spearman"] == pytest.approx(want, abs=1e-5)
    assert r["n"] == len(x)


def test_did_cell_identity(spark, sf_dir):
    r = wave54.a_diff_in_diff(spark, sf_dir).collect()[0]
    effect = (r["treat_post"] - r["treat_pre"]) - (
        r["control_post"] - r["control_pre"]
    )
    assert r["did_effect"] == pytest.approx(effect, abs=2e-6)
    assert math.isfinite(r["z"])
