"""Ninety-third-wave tests: invariants (conversion bounds + median
gap in window, 2x2 totals + null non-rejection)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave93


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave93.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave93.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_second_order_structure(spark, sf_dir):
    rows = wave93.q_second_order_conversion(spark, sf_dir).collect()
    n_cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_new_buyers"] for r in rows) == n_cust
    for r in rows:
        assert 0 <= r["n_converted"] <= r["n_new_buyers"]
        assert 0.0 <= r["conversion_90d"] <= 1.0
        if r["median_gap_days"] is not None:
            assert 0 <= r["median_gap_days"] <= 90


def test_moods_median_null(spark, sf_dir):
    r = wave93.a_moods_median(spark, sf_dir).collect()[0]
    per_user = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    total = (
        r["ctl_below"] + r["ctl_above"] + r["trt_below"] + r["trt_above"]
    )
    assert total == per_user
    assert r["chi2_cc"] >= 0
    # the md5 split is null — medians should not differ
    assert not r["reject_equal_medians"]
