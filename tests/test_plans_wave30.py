"""Thirtieth-wave tests: invariants — FORALL brute-force
cross-check, numpy variance parity, MRL recall vs exact search,
new/returning identities, planted density clusters."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave30
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave30_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave30.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave30.SPECS if s.oracle is not None]
)
def test_wave30_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_loyal_customers_brute_force(spark, sf_dir):
    rows = {r["o_custkey"] for r in wave30.q_loyal_customers(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pdf = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select("o_custkey", "n_name", "o_totalprice")
        .toPandas()
    )
    means = pdf.groupby("n_name").o_totalprice.mean()
    expected = set()
    for ck, grp in pdf.groupby("o_custkey"):
        nat = grp.n_name.iloc[0]
        if len(grp) >= wave30.LOYAL_MIN_ORDERS and (
            grp.o_totalprice > means[nat]
        ).all():
            expected.add(ck)
    assert rows == expected


def test_dim_variance_matches_numpy(spark, sf_dir):
    rows = wave30.a_dim_variance(spark, sf_dir).collect()
    mat = np.array(
        load_table(spark, sf_dir, "embeddings")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    var = mat.var(axis=0)
    for r in rows:
        assert abs(r["variance"] - var[r["dim"]]) < 1e-4
    # reported dims really are the arg-top-k
    top = set(np.argsort(-var)[: wave30.DIMVAR_TOP_K])
    assert {r["dim"] for r in rows} == top


def test_mrl_recall_vs_exact(spark, sf_dir):
    from idn_area_etl_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < wave30.MRL_N_QUERIES)
    exact = cosine_topk(q, emb, k=wave30.MRL_TOP_K)
    exact_sets: dict = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    mrl_sets: dict = {}
    for r in wave30.e_mrl_prefix_topk(spark, sf_dir).collect():
        mrl_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(mrl_sets[qid] & exact_sets[qid]) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    # 16 of 64 dims + a 100-wide shortlist over 500 vectors:
    # measured mean recall 0.7 on this corpus; pin with margin.
    assert sum(recalls) / len(recalls) >= 0.55


def test_new_vs_returning_identities(spark, sf_dir):
    rows = wave30.q_new_vs_returning(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["new_users"] for r in rows) == n_users
    for r in rows:
        assert r["returning_users"] == r["active_users"] - r["new_users"]
        assert r["returning_users"] >= 0
    # first week has no returning users
    assert rows[0]["returning_users"] == 0


def test_density_clusters_planted(spark):
    # Two dense blobs 40 degrees apart + isolated noise points.
    pts = []
    for i in range(6):  # blob A in cell (0,0) of the 10-degree grid
        pts.append((i, 1.0 + 0.1 * i, 2.0 + 0.1 * i))
    for i in range(3):  # blob B, cell (lat 40s)
        pts.append((100 + i, 45.0 + i, 2.0))
    for i in range(3):  # blob B continued, ADJACENT cell (lat 50s)
        pts.append((200 + i, 51.0 + i, 2.0))
    pts.append((999, -60.0, -120.0))  # noise: below min_pts
    df = spark.createDataFrame(pts, ["id", "lat", "lon"])
    out = wave30.grid_density_clusters(df, cell_deg=10, min_pts=3).collect()
    # blob B spans cells (lat 41..53) → both cells core (3 pts each),
    # adjacent → ONE cluster of 6; blob A one cluster of 6; noise gone
    sizes = sorted(r["n_points"] for r in out)
    assert sizes == [6, 6]
    cells = {r["n_cells"] for r in out}
    assert cells == {1, 2}
