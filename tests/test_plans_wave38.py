"""Thirty-eighth-wave tests: invariants — JS symmetry/bounds, stump
gain vs brute force, silhouette bounds."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave38
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave38_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave38.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave38.SPECS if s.oracle is not None]
)
def test_wave38_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_js_divergence_bounds(spark, sf_dir):
    rows = wave38.d_js_divergence_langs(spark, sf_dir).collect()
    n_langs = (
        load_table(spark, sf_dir, "documents")
        .select("lang").distinct().count()
    )
    assert len(rows) == n_langs * (n_langs - 1) // 2
    for r in rows:
        # JS divergence ∈ [0, ln 2]
        assert -1e-9 <= r["js_nats"] <= math.log(2) + 1e-9
        assert r["lang_a"] < r["lang_b"]


def test_stump_gain_matches_brute_force(spark, sf_dir):
    row = wave38.a_decision_stump(spark, sf_dir).collect()[0]
    from idn_area_etl_spark.plans.wave32 import _scored

    pdf = _scored(spark, sf_dir).toPandas()

    def entropy(n1, n):
        if n == 0:
            return 0.0
        p = n1 / n
        if p <= 0 or p >= 1:
            return 0.0
        return -(p * math.log(p) + (1 - p) * math.log(1 - p))

    n = len(pdf)
    n1 = pdf.y.sum()
    parent = entropy(n1, n)
    best = -1.0
    qs = [
        i / (wave38.STUMP_CANDIDATES + 1)
        for i in range(1, wave38.STUMP_CANDIDATES + 1)
    ]
    thresholds = [round(pdf.score.quantile(q), 6) for q in qs]
    for t in thresholds:
        l = pdf[pdf.score <= t]
        r = pdf[pdf.score > t]
        child = len(l) / n * entropy(l.y.sum(), len(l)) + len(
            r
        ) / n * entropy(r.y.sum(), len(r))
        best = max(best, round(parent - child, 6))
    assert abs(row["info_gain"] - best) < 1e-5
    assert row["nl"] + row["nr"] == n


def test_silhouette_bounds_and_counts(spark, sf_dir):
    rows = wave38.e_silhouette_lite(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n"] for r in rows) == n_emb
    for r in rows:
        assert -1.0 - 1e-9 <= r["mean_silhouette"] <= 1.0 + 1e-9
