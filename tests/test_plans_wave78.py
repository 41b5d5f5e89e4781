"""Seventy-eighth-wave tests: a numpy TwoNN reference and
Simpson-structure checks."""

from __future__ import annotations

import math

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave78


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave78.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave78.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_simpson_structure(spark, sf_dir):
    rows = wave78.a_simpsons_check(spark, sf_dir).collect()
    assert len(rows) == 5
    pooled = {r["pooled_beta"] for r in rows}
    assert len(pooled) == 1
    for r in rows:
        assert math.isfinite(r["seg_beta"])
        assert r["sign_reversal"] == (
            (r["seg_beta"] > 0) != (r["pooled_beta"] > 0)
        )


def test_twonn_matches_numpy(spark, sf_dir):
    r = wave78.e_intrinsic_dimension(spark, sf_dir).collect()[0]
    pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    mat = np.array(
        [np.array(v, dtype=np.float64) for v in pdf["embedding"]]
    )
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / norms[:, None] / norms[None, :]
    d = np.round(1.0 - sims, 9)
    np.fill_diagonal(d, np.inf)
    # the r6 spec evaluates TwoNN on the fixed vec_id < 200 probe
    # sample (all-pairs over the full corpus is quadratic); neighbors
    # still range over every vector
    probe = pdf["vec_id"].to_numpy() < 200
    d = d[probe]
    d.sort(axis=1)
    d1, d2 = d[:, 0], d[:, 1]
    mask = d1 > 0
    want = mask.sum() / np.log(d2[mask] / d1[mask]).sum()
    assert r["n_used"] == int(mask.sum())
    assert r["twonn_id"] == pytest.approx(want, rel=1e-4)
    # a 64-dim isotropic cloud should report a substantial dimension
    assert r["twonn_id"] > 5
