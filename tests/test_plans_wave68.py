"""Sixty-eighth-wave tests: invariants (runs bounds, LOO accuracy
beats chance pooled, quartiles ordered)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave68


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave68.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave68.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_runs_bounds(spark, sf_dir):
    r = wave68.a_runs_test(spark, sf_dir).collect()[0]
    n = r["n_up"] + r["n_down"]
    assert 1 <= r["n_runs"] <= n
    assert 1.0 < r["expected_runs"] <= n
    assert math.isfinite(r["z"])


def test_knn_loo_matches_numpy(spark, sf_dir):
    """Labels are NOT clustered in this synthetic embedding space
    (pooled LOO accuracy sits below chance), so the check is exact
    equality with a numpy 1-NN rather than an accuracy floor."""
    import numpy as np

    rows = wave68.e_knn_loo_accuracy(spark, sf_dir).collect()
    pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    mat = np.array(
        [np.array(v, dtype=np.float64) for v in pdf["embedding"]]
    )
    labels = pdf["label"].to_numpy()
    vec_ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / norms[:, None] / norms[None, :]
    np.fill_diagonal(sims, -np.inf)
    sims = np.round(sims, 6)
    correct = {}
    counts = {}
    # the r6 spec evaluates on the fixed vec_id < 200 probe sample
    # (full-corpus LOO is all-pairs); candidates are the whole corpus
    for i in np.flatnonzero(vec_ids < 200):
        best = np.max(sims[i])
        # tie-break on smallest candidate LABEL (matches the plan)
        cand_labels = labels[sims[i] == best]
        nn_label = int(np.min(cand_labels))
        lbl = int(labels[i])
        counts[lbl] = counts.get(lbl, 0) + 1
        correct[lbl] = correct.get(lbl, 0) + (nn_label == lbl)
    got = {r["label"]: (r["n"], r["n_correct"]) for r in rows}
    assert {k: v for k, v in got.items()} == {
        k: (counts[k], correct[k]) for k in counts
    }


def test_lead_time_quartiles_ordered(spark, sf_dir):
    rows = wave68.q_ship_lead_time(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        # lead times can be NEGATIVE in this synthetic data (ship
        # dates are generated independently of order dates)
        assert r["p25_days"] <= r["p50_days"] <= r["p75_days"]
        assert r["n_lines"] > 0
