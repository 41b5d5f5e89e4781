"""Fifty-eighth-wave tests: invariants (RDD jump identity,
interleave balance, assortativity range)."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave58


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave58.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave58.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_rdd_jump_identity(spark, sf_dir):
    r = wave58.a_regression_discontinuity(spark, sf_dir).collect()[0]
    assert r["rdd_jump"] == pytest.approx(
        r["right_icpt"] - r["left_icpt"], abs=2e-6
    )
    for k in ("left_icpt", "right_icpt", "left_slope", "right_slope"):
        assert math.isfinite(r[k])


def test_curriculum_interleave_balanced(spark, sf_dir):
    rows = wave58.s_curriculum_interleave(spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lang_counts = {
        r["lang"]: r["count"]
        for r in docs.groupBy("lang").count().collect()
    }
    for lang in ("de", "en", "es", "fr", "zh"):
        total = sum(r[lang] for r in rows)
        assert total == lang_counts[lang]
    # round-robin means minority languages appear in EVERY early
    # decile (they are exhausted last under rank-major order)
    min_lang = min(lang_counts, key=lang_counts.get)
    early = [r[min_lang] for r in rows[:5]]
    assert all(v > 0 for v in early)


def test_assortativity_range(spark, sf_dir):
    r = wave58.g_degree_assortativity(spark, sf_dir).collect()[0]
    assert r["n_edges"] > 0
    assert -1.0 <= r["assortativity"] <= 1.0
