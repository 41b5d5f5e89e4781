"""Fifteenth-wave tests: bloom-filter soundness, quantization
recall, and triangle identities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.bloom import (
    build_bloom_words,
    might_contain_expr,
)
from idn_area_etl_spark.plans import all_specs, wave15
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave15_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave15.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave15.SPECS if s.oracle is not None]
)
def test_wave15_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_bloom_never_false_negative_and_prunes(spark, sf_dir):
    """Every true build key passes the bloom (no false negatives) and
    the probe-side pre-filter actually prunes rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hot = orders.filter(F.col("o_totalprice") > wave15.BLOOM_PRICE_THRESHOLD)
    words = build_bloom_words(hot, "o_orderkey")
    # no false negatives: every hot key itself passes
    missed = hot.filter(
        ~might_contain_expr(F.col("o_orderkey"), words)
    ).count()
    assert missed == 0
    total = li.count()
    passed = li.filter(
        might_contain_expr(F.col("l_orderkey"), words)
    ).count()
    true_matches = li.join(
        hot.select("o_orderkey").distinct(),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    ).count()
    assert true_matches <= passed <= total
    # with n << m the false-positive rate is tiny; the filter must
    # remove the overwhelming majority of non-matching rows
    assert passed < true_matches + 0.05 * total


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """Int8 MIPS top-5 must substantially agree with exact double
    dot-product top-5 (quantization is lossy but 64-dim int8 is a
    fine-grained grid)."""
    quant = {
        (r.query_id, r.neighbor_id)
        for r in wave15.e_quantized_topk(spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qa")
    )
    pairs = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with("qa", "vec", lambda p, q: p * q),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= wave15.QUANT_TOPK)
        .collect()
    }
    recall = len(quant & exact) / len(exact)
    # synthetic embeddings are near-uniform random, so exact top-5
    # scores are dense near-ties — the hardest case for a quantized
    # grid.  Majority agreement still demonstrates the method; real
    # clustered embeddings score far higher.
    assert recall >= 0.5, recall


def test_triangle_handshake_identity(spark, sf_dir):
    """Sum of per-node triangle counts is exactly 3× the number of
    distinct triangles, and degree bounds triangles: tri(v) <=
    C(deg(v), 2)."""
    rows = wave15.g_triangle_parts(spark, sf_dir).collect()
    assert rows
    total_node_tris = sum(r.triangles for r in rows)
    assert total_node_tris % 3 == 0
    for r in rows:
        assert r.degree >= 1
        assert r.triangles <= r.degree * (r.degree - 1) // 2


def test_fuzzy_pairs_are_single_substitutions(spark, sf_dir):
    """Names are fixed-width, so edit distance 1 means exactly one
    differing character; pairs are oriented a<b within one block."""
    rows = wave15.j_fuzzy_customer_pairs(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.custkey_a < r.custkey_b
        assert len(r.name_a) == len(r.name_b)
        diffs = sum(1 for x, y in zip(r.name_a, r.name_b) if x != y)
        assert diffs == r.dist == 1
