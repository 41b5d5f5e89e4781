"""Sixteenth-wave tests: PQ recall / structure and association-rule
identities."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    pq_fit,
    pq_topk_reranked,
)
from idn_area_etl_spark.plans import all_specs, wave16
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave16_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave16.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave16.SPECS if s.oracle is not None]
)
def test_wave16_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_association_rule_identities(spark, sf_dir):
    rows = wave16.a_association_rules(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.confidence <= 1.0
        assert r.n_ab <= min(r.n_a, r.n_b)
        assert r.lift > 0.0
        assert r.antecedent != r.consequent


@pytest.fixture(scope="module")
def pq_parts(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb)
    codes = pq_encode(emb, books)
    return emb, books, codes


def test_pq_codes_structure(spark, sf_dir, pq_parts):
    emb, books, codes = pq_parts
    n_vec = emb.count()
    stats = codes.groupBy("vec_id").agg(
        F.count("*").alias("m"),
        F.min("code").alias("cmin"),
        F.max("code").alias("cmax"),
    )
    assert stats.count() == n_vec
    bad = stats.filter(
        (F.col("m") != 8) | (F.col("cmin") < 0) | (F.col("cmax") > 7)
    ).count()
    assert bad == 0
    # codebooks: 8 subspaces × 8 centroids of width 8
    book_rows = books.collect()
    assert len(book_rows) == 64
    assert all(len(r.centroid) == 8 for r in book_rows)


def test_pq_rerank_recall_vs_exact_l2(spark, sf_dir, pq_parts):
    """ADC shortlist (50) + exact re-rank top-5 must recover the
    majority of the exact top-5.  Near-uniform synthetic vectors are
    PQ's hardest case (all pairwise distances concentrate), so the
    bound is far below what clustered real embeddings achieve."""
    emb, books, codes = pq_parts
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk_reranked(
            emb.filter(F.col("vec_id") % 100 == 0), emb, codes, books,
            k=wave16.PQ_TOPK, shortlist=50,
        ).collect()
    }
    vec = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    probes = vec.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv")
    )
    pairs = (
        vec.crossJoin(F.broadcast(probes))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with("qv", "vec", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= wave16.PQ_TOPK)
        .collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall


def test_pq_adc_is_deterministic(spark, sf_dir, pq_parts):
    emb, books, codes = pq_parts
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    a = pq_adc_topk(probes, codes, books, k=3).collect()
    b = pq_adc_topk(probes, codes, books, k=3).collect()
    assert a == b


def test_pq_planted_code_tuple_multiplicity(spark, sf_dir, pq_parts):
    """Safety margin for e_pq_planted's shortlist-tie assumption (see
    its docstring): the plant survives the 50-candidate shortlist only
    while fewer than 50 corpus vectors share any probe's exact 8-code
    tuple (ties rank the high-id plant last).  Assert the measured
    maximum multiplicity stays below half the shortlist; if data growth
    ever trips this, scale `shortlist` with the corpus instead of
    loosening the gate."""
    emb, books, codes = pq_parts
    tuples = codes.groupBy("vec_id").agg(
        F.sort_array(F.collect_list(F.struct("sub", "code"))).alias("tup")
    )
    max_mult = (
        tuples.groupBy("tup")
        .agg(F.count("*").alias("m"))
        .agg(F.max("m").alias("mm"))
        .collect()[0]
        .mm
    )
    assert max_mult < 25, (
        f"max per-code-tuple multiplicity {max_mult} approaches the "
        "50-candidate shortlist; e_pq_planted's recovery guarantee "
        "needs shortlist scaled up"
    )
