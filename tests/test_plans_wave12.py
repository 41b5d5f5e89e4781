"""Flagship curation-pipeline tests: pipeline conservation
invariants and the map-side-combinable dedup plan shape."""

from __future__ import annotations

from idn_area_etl_spark.plans import all_specs, wave12
from idn_area_etl_spark.sources.tables import load_table


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave12.SPECS)


def test_pipeline_matches_duckdb_oracle(oracle_parity):
    oracle_parity("p_curation_pipeline")


def test_pipeline_conservation(spark, sf_dir):
    """Docs surviving the pipeline never exceed the corpus; splits are
    the known three; every (split, lang) count is positive."""
    rows = all_specs()["p_curation_pipeline"].builder(spark, sf_dir).collect()
    assert rows
    total_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) <= total_docs
    assert {r.split for r in rows} <= {"train", "val", "test"}
    for r in rows:
        assert r.n_docs > 0 and r.total_tokens > 0


def test_pipeline_dedup_is_map_side_combinable(spark, sf_dir):
    """The dedup stage must plan as partial min aggregation, not a
    window sort over every hash group."""
    df = all_specs()["p_curation_pipeline"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    assert "RunningWindowFunction" not in plan and "Window" not in plan
