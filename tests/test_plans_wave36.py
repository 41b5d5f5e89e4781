"""Thirty-sixth-wave tests: invariants — link-prediction candidates
are non-edges, Apriori downward closure, decay-score bounds."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave36
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave36_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave36.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave36.SPECS if s.oracle is not None]
)
def test_wave36_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_link_candidates_are_nonedges_with_common_neighbors(spark, sf_dir):
    rows = wave36.g_link_prediction(spark, sf_dir).collect()
    assert len(rows) > 0
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().collect()
    from collections import defaultdict

    basket = defaultdict(set)
    for r in op:
        basket[r["l_orderkey"]].add(r["l_partkey"])
    pair_count = defaultdict(int)
    for parts in basket.values():
        ps = sorted(parts)
        for i, x in enumerate(ps):
            for y in ps[i + 1 :]:
                pair_count[(x, y)] += 1
    edges = {
        p for p, n in pair_count.items()
        if n >= wave36.LINKPRED_MIN_SHARED
    }
    neigh = defaultdict(set)
    for x, y in edges:
        neigh[x].add(y)
        neigh[y].add(x)
    for r in rows:
        assert (r["u"], r["v"]) not in edges  # genuinely a NEW edge
        cn = len(neigh[r["u"]] & neigh[r["v"]])
        assert cn == r["common_neighbors"]


def test_frequent_triples_downward_closure(spark, sf_dir):
    rows = wave36.a_frequent_triples(spark, sf_dir).collect()
    assert len(rows) > 0
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().collect()
    from collections import defaultdict

    basket = defaultdict(set)
    for r in op:
        basket[r["l_orderkey"]].add(r["l_partkey"])
    for r in rows:
        a, b, c = r["a"], r["b"], r["c"]
        assert a < b < c
        support = sum(
            1 for parts in basket.values() if {a, b, c} <= parts
        )
        assert support == r["support"] >= wave36.TRIPLE_MIN_SUPPORT
        # downward closure: every sub-pair is at least as frequent
        for x, y in [(a, b), (a, c), (b, c)]:
            sub = sum(1 for parts in basket.values() if {x, y} <= parts)
            assert sub >= r["support"]


def test_engagement_bounds(spark, sf_dir):
    rows = wave36.q_recency_engagement(spark, sf_dir).collect()
    for r in rows:
        # each event contributes (0, 1] → score ≤ n_events
        assert 0 < r["engagement"] <= r["n_events"] + 1e-9
