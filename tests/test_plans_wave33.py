"""Thirty-third-wave tests: invariants — BM25 vs a Python reference
on a planted corpus, index stats identities, snapshot-diff
partitioning, imputation mean-shift."""

from __future__ import annotations

import math

import pytest

from idn_area_etl_spark.plans import all_specs, wave33
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave33_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave33.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave33.SPECS if s.oracle is not None]
)
def test_wave33_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_bm25_matches_python_reference(spark, sf_dir):
    rows = d_rows = wave33.d_bm25_search(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    corpus = {r["doc_id"]: r["text"].strip().lower().split() for r in docs}
    n_docs = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n_docs
    k1, b = wave33.BM25_K1, wave33.BM25_B
    df = {
        t: sum(1 for toks in corpus.values() if t in toks)
        for t in wave33.BM25_QUERY_TERMS
    }
    scores = {}
    for did, toks in corpus.items():
        s = 0.0
        for t in wave33.BM25_QUERY_TERMS:
            tf = toks.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(toks) / avgdl)
            )
        if s > 0:
            scores[did] = s
    expected = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[
        : wave33.BM25_TOP_K
    ]
    got = [(r["doc_id"], r["bm25"]) for r in rows]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (ed, es) in zip(got, expected):
        assert abs(gs - es) < 1e-4


def test_bm25_single_documents_scan(spark, sf_dir):
    """r8: doc_len and tf both read the staged row-local token-count
    rollup, so the runtime plan holds no repeated documents scan (the
    one scan runs inside the staged subtree at materialization)."""
    df = wave33.d_bm25_search(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 0
    assert "ExistingRDD" in plan


def test_index_stats_identities(spark, sf_dir):
    rows = wave33.d_inverted_index_stats(spark, sf_dir).collect()
    assert len(rows) == wave33.INDEX_TOP_TERMS
    for r in rows:
        assert r["total_tf"] >= r["df"] >= 1
        assert 1 <= len(r["first_docs"].split(",")) <= wave33.POSTING_SAMPLE
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)


def test_snapshot_diff_partitions_customers(spark, sf_dir):
    rows = {r["status"]: r["n_customers"] for r in wave33.q_snapshot_diff(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(rows.values()) == n_cust


def test_imputation_counts_and_identity(spark, sf_dir):
    rows = wave33.q_impute_missing(spark, sf_dir).collect()
    for r in rows:
        assert 0 < r["n_imputed"] < r["n"]
        # imputing with the non-missing mean pulls the overall mean
        # toward it — the shift must be small but real
        assert r["mean_after"] != r["mean_before"] or r["n_imputed"] == 0
