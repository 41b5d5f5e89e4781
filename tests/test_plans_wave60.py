"""Sixtieth-wave tests: invariants (funnel monotone per tier,
coverage bounds, aging totals reconcile)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave60


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave60.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave60.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_funnel_monotone(spark, sf_dir):
    rows = wave60.d_dedup_funnel(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert (
            r["n_raw"] >= r["n_exact"] >= r["n_canonical"] >= r["n_neardup"]
        )
        assert r["n_neardup"] > 0
    # the cascade removes SOMETHING overall (planted dups)
    assert sum(r["n_neardup"] for r in rows) < sum(
        r["n_raw"] for r in rows
    )


def test_rec_coverage_bounds(spark, sf_dir):
    r = wave60.a_rec_coverage(spark, sf_dir).collect()[0]
    assert 0 < r["n_recommended_parts"] <= r["catalog_size"]
    assert 0.0 < r["coverage"] <= 1.0
    assert 0.0 < r["top10_exposure_share"] <= 1.0


def test_aging_reconciles(spark, sf_dir):
    rows = wave60.q_receivables_aging(spark, sf_dir).collect()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    open_tot = orders.filter(F.col("o_orderstatus") == "O").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("amt"),
    ).collect()[0]
    assert sum(r["n_orders"] for r in rows) == open_tot["n"]
    assert sum(r["total_open"] for r in rows) == pytest.approx(
        float(open_tot["amt"]), rel=1e-9
    )
