"""Eighteenth-wave tests: skyline dominance soundness/completeness
and LPA determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave18
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave18_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave18.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave18.SPECS if s.oracle is not None]
)
def test_wave18_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def _dominates(a, b) -> bool:
    return (
        a[0] >= b[0] and a[1] >= b[1] and (a[0] > b[0] or a[1] > b[1])
    )


def test_skyline_sound_and_complete(spark, sf_dir):
    """No skyline member dominates another (soundness) and every
    non-member is dominated by some member (completeness) — checked
    against the full point set driver-side."""
    sky = [
        (r.bal, r.spend, r.custkey)
        for r in wave18.q_skyline_customers(spark, sf_dir).collect()
    ]
    assert sky
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
        .cast("double")
        .alias("spend")
    )
    pts = [
        (r.bal, r.spend, r.custkey)
        for r in c.select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("bal"),
        )
        .join(spend, "custkey", "left")
        .withColumn("spend", F.coalesce("spend", F.lit(0.0)))
        .collect()
    ]
    sky_keys = {k for _, _, k in sky}
    for a in sky:
        for b in sky:
            if a[2] != b[2]:
                assert not _dominates(a, b), (a, b)
    for p in pts:
        if p[2] not in sky_keys:
            assert any(_dominates(s, p) for s in sky), p


def test_mad_outlier_shares_bounded(spark, sf_dir):
    rows = wave18.q_mad_outliers(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mad >= 0.0
        assert 0.0 <= r.outlier_share <= 1.0
        assert r.n_outliers <= r.n


def test_label_propagation_deterministic_and_bounded(spark, sf_dir):
    a = wave18.g_label_propagation(spark, sf_dir).collect()
    b = wave18.g_label_propagation(spark, sf_dir).collect()
    assert a == b
    n_nodes = wave18._lpa_edges(spark, sf_dir).select("src").distinct().count()
    assert sum(r.community_size for r in a) <= n_nodes
    sizes = [r.community_size for r in a]
    assert sizes == sorted(sizes, reverse=True)
