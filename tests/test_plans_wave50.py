"""Fiftieth-wave tests: invariants (polygon area share plausible,
cents conserved exactly, coverage bounded)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave50


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave50.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave50.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_polygon_share_plausible(spark, sf_dir):
    """Polygon area / (170 x 360) world box is ~5.6%; uniform points
    should land inside at a vaguely matching rate pooled over all
    nations."""
    rows = wave50.j_points_in_polygon(spark, sf_dir).collect()
    n = sum(r["n_customers"] for r in rows)
    k = sum(r["n_inside"] for r in rows)
    assert 0 < k < n
    share = k / n
    # shoelace area of the fixed polygon = 3250 deg^2; box = 61200
    assert 0.01 < share < 0.15


def test_revenue_recognition_conserves_cents(spark, sf_dir):
    rows = wave50.q_revenue_recognition(spark, sf_dir).collect()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from pyspark.sql import functions as F

    total_cents = (
        orders.select(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "decimal(27,0)"
                )
            ).alias("c")
        ).collect()[0]["c"]
    )
    recognized_cents = round(sum(r["recognized"] for r in rows) * 100)
    assert int(recognized_cents) == int(total_cents)


def test_stopword_coverage_bounds(spark, sf_dir):
    rows = wave50.d_stopword_coverage(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r["stopwords"].split(",")) == 5
        assert 0.0 < r["coverage"] < 1.0
        assert r["stop_occ"] < r["total_occ"]
        # 5 of ~31 vocabulary words must absorb >5/31 of occurrences
        assert r["coverage"] > 5 / 31
