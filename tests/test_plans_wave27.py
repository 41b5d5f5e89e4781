"""Twenty-seventh-wave tests: invariants — RFM
partition-of-customers, LTV monotonicity, gap identities, equi-depth
balance, Zipf slope sanity."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave27
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave27_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave27.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave27.SPECS if s.oracle is not None]
)
def test_wave27_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_rfm_partitions_all_customers(spark, sf_dir):
    rows = wave27.q_rfm_segments(spark, sf_dir).collect()
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        parts = r["segment"].split("-")
        assert len(parts) == 3
        assert all(1 <= int(p) <= 5 for p in parts)


def test_cohort_ltv_cumulative_monotone(spark, sf_dir):
    rows = wave27.q_cohort_ltv(spark, sf_dir).collect()
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r["cohort"], []).append(
            (r["age_months"], r["cum_ltv"])
        )
    for pts in by_cohort.values():
        ages = [a for a, _ in pts]
        assert ages == sorted(ages)
        ltvs = [v for _, v in pts]
        assert all(b >= a for a, b in zip(ltvs, ltvs[1:]))
    # First age of every cohort is 0 (the cohort-defining order).
    assert all(min(a for a, _ in pts) == 0 for pts in by_cohort.values())


def test_gap_counts_identity(spark, sf_dir):
    rows = wave27.q_interpurchase_gaps(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").count().collect()
    expected = sum(r["count"] - 1 for r in per_cust)
    assert sum(r["n_gaps"] for r in rows) == expected


def test_equidepth_buckets_balanced_and_ordered(spark, sf_dir):
    rows = wave27.q_equidepth_histogram(spark, sf_dir).collect()
    n_total = sum(r["n"] for r in rows)
    ideal = n_total / wave27.EQUIDEPTH_BUCKETS
    for r in rows:
        # Equal-frequency up to threshold ties.
        assert abs(r["n"] - ideal) < 0.25 * ideal + 2
        assert r["lo"] <= r["hi"]
    lows = [r["lo"] for r in sorted(rows, key=lambda r: r["bucket"])]
    assert lows == sorted(lows)


def test_zipf_slope_negative(spark, sf_dir):
    row = wave27.d_zipf_slope(spark, sf_dir).collect()[0]
    assert row["n_terms"] > 10
    assert row["zipf_slope"] < 0
