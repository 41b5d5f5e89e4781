"""Sixth-wave queries: the connected-components invariants that make
cluster dedup trustworthy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.graph import connected_components
from idn_area_etl_spark.plans import all_specs, wave6


def test_all_wave6_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave6.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave6.SPECS if s.oracle is not None]
)
def test_wave6_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def _cc_map(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.node: r.component for r in connected_components(df).collect()
    }


def test_cc_two_cliques(spark):
    got = _cc_map(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_cc_long_path_converges(spark):
    """A 12-node path exercises pointer jumping — hash-min alone
    needs 11 rounds; with jumping the 25-round cap is ample."""
    edges = [(i, i + 1) for i in range(12)]
    got = _cc_map(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_cc_partition_invariant(spark):
    """Component labelling is a unique fixpoint — repartitioning the
    edge list must not change any label."""
    edges = [(i, i + 1) for i in range(0, 20, 2)] + [(5, 7), (100, 1)]
    df1 = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    df2 = spark.createDataFrame(edges, "src long, dst long").repartition(13)
    m1 = {r.node: r.component for r in connected_components(df1).collect()}
    m2 = {r.node: r.component for r in connected_components(df2).collect()}
    assert m1 == m2


def test_cc_random_graph_matches_union_find(spark):
    """Property check against a driver-side union-find reference: on a
    seeded random graph the distributed fixpoint must label every node
    with its component's minimum id."""
    import random

    rng = random.Random(20260815)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(180)
    ]

    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    touched = {u for e in edges for u in e}
    comp_min: dict[int, int] = {}
    for v in touched:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    expected = {v: comp_min[find(v)] for v in touched}

    got = _cc_map(spark, edges)
    assert got == expected


def test_cc_first_labels_round_reads_the_edge_checkpoint(spark, tmp_path, monkeypatch):
    """The first labels round derives the nodes from the materialized
    edge table's self-loops: its plan scans no input edges."""
    from idn_area_etl_spark.operators import graph

    path = str(tmp_path / "edges.parquet")
    edges = [(1, 2), (2, 3), (3, 3), (10, 11)]  # (3, 3): an input self-loop
    spark.createDataFrame(edges, "src long, dst long").write.parquet(path)
    plans = []
    checkpoint = graph._round

    def recording(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(graph, "_round", recording)
    labels = connected_components(spark.read.parquet(path))
    got = {r.node: r.component for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    sym_plan, labels_plan = plans[:2]
    assert "parquet" in sym_plan
    assert "parquet" not in labels_plan


def test_dedup_clusters_group_planted_duplicates(spark, sf_dir):
    """Every cluster has exactly one representative (its min doc_id)
    and ≥2 members — these are near-dup groups, not singletons."""
    rows = all_specs()["d_dedup_clusters"].builder(spark, sf_dir).collect()
    assert rows, "expected planted near-duplicates at sf0.001"
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.doc_id for m in members)
        assert sum(m.is_rep for m in members) == 1
        assert all(m.cluster_size == len(members) for m in members)
        assert len(members) >= 2


def test_merge_updates_win(spark, sf_dir):
    """Every key divisible by 7 must surface as status 'U' with the
    re-priced total — i.e. version 2 beat version 1."""
    from idn_area_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    n_updated = orders.filter(F.col("o_orderkey") % 7 == 0).count()
    rows = {
        r.o_orderstatus: r
        for r in all_specs()["q_merge_upsert_latest"].builder(spark, sf_dir).collect()
    }
    assert rows["U"].n_orders == n_updated
    total = sum(r.n_orders for r in rows.values())
    assert total == orders.count()
