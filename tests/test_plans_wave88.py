"""Eighty-eighth-wave tests: invariants (z mean near zero across
days, correlation bounds + numpy cross-check)."""

from __future__ import annotations

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave88


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave88.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave88.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_xbar_chart_structure(spark, sf_dir):
    rows = wave88.a_xbar_control(spark, sf_dir).collect()
    assert len(rows) == 30
    zs = [r["z"] for r in rows]
    # in-control process: day means scatter around the grand mean
    assert abs(sum(zs) / len(zs)) < 1.5
    for r in rows:
        assert r["out_of_control"] == (abs(r["z"]) > 3.0)


def test_dim_corr_matches_numpy(spark, sf_dir):
    rows = wave88.e_dim_correlation_top(spark, sf_dir).collect()
    assert len(rows) == 5
    pdf = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    mat = np.array(
        [np.array(v, dtype=np.float64) for v in pdf["embedding"]]
    )
    cm = np.corrcoef(mat.T)
    for r in rows:
        assert -1.0 <= r["corr"] <= 1.0
        want = cm[r["d1"], r["d2"]]
        assert r["corr"] == pytest.approx(want, abs=1e-5)
    abss = [abs(r["corr"]) for r in rows]
    assert all(a >= b for a, b in zip(abss, abss[1:]))
