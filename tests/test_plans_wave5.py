"""Fifth-wave queries: the sketch- and sampling-specific invariants
that SQL can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave5
from idn_area_etl_spark.plans.wave5 import hash_sample_predicate
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave5_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave5.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave5.SPECS if s.oracle is not None]
)
def test_wave5_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_hash_sample_is_partition_invariant(spark, sf_dir):
    """Membership must not change with cluster layout — the property
    that rand()-based sample() lacks."""
    docs = load_table(spark, sf_dir, "documents")
    pred = hash_sample_predicate(F.col("doc_id"), "10")
    ids_1 = sorted(
        r.doc_id for r in docs.coalesce(1).filter(pred).select("doc_id").collect()
    )
    ids_17 = sorted(
        r.doc_id
        for r in docs.repartition(17).filter(pred).select("doc_id").collect()
    )
    assert ids_1 == ids_17
    assert ids_1  # non-empty at sf0.001


def test_hash_sample_rate_close_to_nominal(spark):
    """At n=100k the 6.25% predicate should land within ±0.5pp."""
    big = spark.range(100_000).select(F.col("id").alias("doc_id"))
    n = big.filter(hash_sample_predicate(F.col("doc_id"), "10")).count()
    assert abs(n / 100_000 - 16 / 256) < 0.005


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """The r6 oracle conversion moved the engine-specific estimates
    into in-plan 3-sigma bound booleans (digest_ok pattern); the spec
    itself now asserts the accuracy contract."""
    rows = all_specs()["a_approx_distinct_users"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_users > 0
        assert r.default_within_3rsd is True, r.event_type
        assert r.precise_within_3rsd is True, r.event_type


def test_funnel_counts_are_monotone(spark, sf_dir):
    row = all_specs()["q_funnel_users"].builder(spark, sf_dir).collect()[0]
    assert row.n_users >= row.n_view >= row.n_view_click >= row.n_full_funnel
    assert row.n_view > 0
