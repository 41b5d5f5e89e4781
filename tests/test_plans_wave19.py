"""Nineteenth-wave tests: TWAP weighting and reset-segment
invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave19
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave19_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave19.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave19.SPECS if s.oracle is not None]
)
def test_wave19_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_twap_lies_within_value_range(spark, sf_dir):
    """A weighted mean must sit inside each user's [min, max] value
    span (weights are nonnegative intervals)."""
    twap = {r.user_id: r.twap for r in wave19.q_twap_user_value(spark, sf_dir).collect()}
    assert twap
    spans = {
        r.user_id: (r.lo, r.hi)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for uid, t in twap.items():
        lo, hi = spans[uid]
        assert lo - 1e-6 <= t <= hi + 1e-6, (uid, t, lo, hi)


def test_running_balance_segments_partition_events(spark, sf_dir):
    """Segment event counts must sum to each user's total events, and
    segment ids are contiguous from their first value."""
    rows = wave19.q_running_balance_resets(spark, sf_dir).collect()
    per_user: dict[int, list] = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    totals = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(per_user) == set(totals)
    for uid, segs in per_user.items():
        assert sum(s.n_events for s in segs) == totals[uid]
        ids = sorted(s.segment for s in segs)
        assert ids == list(range(ids[0], ids[0] + len(ids)))


def test_mom_first_month_has_null_delta(spark, sf_dir):
    rows = wave19.q_mom_revenue_change(spark, sf_dir).collect()
    assert rows[0].mom_abs is None and rows[0].mom_pct is None
    for r in rows[1:]:
        assert r.mom_abs is not None
