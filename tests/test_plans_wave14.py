"""Fourteenth-wave tests: the interval/transition invariants SQL
equality alone doesn't prove."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave14


def test_all_wave14_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave14.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave14.SPECS if s.oracle is not None]
)
def test_wave14_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_scd2_intervals_are_well_formed(spark, sf_dir):
    """Per customer: intervals tile the history (valid_to == next
    valid_from), adjacent runs change priority, and exactly one
    open-ended (NULL valid_to) interval exists."""
    rows = wave14.q_scd2_priority(spark, sf_dir).collect()
    assert rows
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for cust, ivs in by_cust.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in ivs if r.valid_to is None) == 1
        assert ivs[-1].valid_to is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, cust
            assert a.priority != b.priority, cust
            # equal is possible: same-date orders split runs via the
            # orderkey tiebreaker
            assert a.last_seen <= b.valid_from, cust


def test_max_concurrency_bounded_and_positive(spark, sf_dir):
    rows = wave14.q_max_concurrency(spark, sf_dir).collect()
    assert rows
    n_users = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id"
    ).distinct().count()
    for r in rows:
        assert 1 <= r.peak_concurrent <= n_users


def test_rolling_median_within_window_bounds(spark, sf_dir):
    """med7 must lie between the min and max revenue of its 7-row
    window (checked against a driver-side replay of the series)."""
    rows = wave14.q_rolling_median_revenue(spark, sf_dir).collect()
    assert rows
    revs = [r.rev for r in rows]
    # the first emitted row's frame reaches 6 days before the emitted
    # slice, so only frames fully inside the slice are checked tightly
    for i, r in enumerate(rows):
        if i >= 6:
            window = revs[i - 6: i + 1]
            assert min(window) <= r.med7 <= max(window)


def test_event_transitions_rows_are_probabilities(spark, sf_dir):
    rows = wave14.q_event_transitions(spark, sf_dir).collect()
    assert rows
    sums: dict[str, float] = {}
    for r in rows:
        assert 0.0 < r.prob <= 1.0
        sums[r.from_event] = sums.get(r.from_event, 0.0) + r.prob
    for s in sums.values():
        assert abs(s - 1.0) < 1e-9


def test_k_anonymity_only_reports_small_groups(spark, sf_dir):
    rows = wave14.q_k_anonymity(spark, sf_dir).collect()
    for r in rows:
        assert r.group_size < wave14.K_ANON_THRESHOLD
