"""Thirty-second-wave tests: invariants — AUC vs sklearn-free numpy
reference, calibration partitioning, Kaplan-Meier monotonicity."""

from __future__ import annotations

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave32
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave32_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave32.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave32.SPECS if s.oracle is not None]
)
def test_wave32_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_auc_matches_numpy_rank_reference(spark, sf_dir):
    row = wave32.a_model_auc(spark, sf_dir).collect()[0]
    pdf = wave32._scored(spark, sf_dir).toPandas()
    scores = pdf.score.to_numpy()
    y = pdf.y.to_numpy()
    # tie-aware AUC via scipy-free average ranks
    order = np.argsort(scores, kind="mergesort")
    ranks = np.empty(len(scores))
    sorted_scores = scores[order]
    i = 0
    r = 1
    while i < len(scores):
        j = i
        while j + 1 < len(scores) and sorted_scores[j + 1] == sorted_scores[i]:
            j += 1
        avg = (r + r + (j - i)) / 2
        ranks[order[i : j + 1]] = avg
        r += j - i + 1
        i = j + 1
    n1 = y.sum()
    n0 = len(y) - n1
    auc = (ranks[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0)
    assert abs(row["auc"] - auc) < 1e-6
    assert row["n_pos"] == n1
    # the pseudo-model must actually discriminate nothing special —
    # just bound sanity
    assert 0.0 <= row["auc"] <= 1.0


def test_calibration_partitions_everything(spark, sf_dir):
    rows = wave32.a_score_calibration(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n"] for r in rows) == n_emb
    for r in rows:
        assert 0.0 <= r["mean_score"] <= 1.0
        assert 0.0 <= r["pos_rate"] <= 1.0
    # mean score rises with bucket (deciles of the score itself)
    means = [r["mean_score"] for r in sorted(rows, key=lambda r: r["bucket"])]
    assert means == sorted(means)


def test_survival_monotone_nonincreasing(spark, sf_dir):
    rows = wave32.q_survival_curve(spark, sf_dir).collect()
    assert len(rows) > 0
    surv = [r["survival"] for r in rows]
    assert all(b <= a + 1e-12 for a, b in zip(surv, surv[1:]))
    assert all(0.0 <= s <= 1.0 for s in surv)
    # at-risk counts strictly decrease over time
    risk = [r["n_at_risk"] for r in rows]
    assert risk == sorted(risk, reverse=True)
