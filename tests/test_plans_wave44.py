"""Forty-fourth-wave tests: prefix-join losslessness vs brute force
and DSIR / mixture sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import prefix_jaccard_join
from idn_area_etl_spark.plans import all_specs, wave44
from idn_area_etl_spark.sources.tables import load_table


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave44.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave44.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_prefix_join_equals_brute_force(spark, sf_dir):
    """The prefix filter must be lossless: identical pair set to the
    unpruned all-pairs self-join at the same threshold."""
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc1"], r["doc2"], r["n_inter"], r["n_union"])
        for r in prefix_jaccard_join(docs, n=5, tau_num=4, tau_den=5).collect()
    }
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    tok = (
        docs.select("doc_id", toks.alias("ws"))
        .filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - F.lit(4)),
                    lambda i: F.array_join(F.slice("ws", i, 5), " "),
                )
            ).alias("sh"),
        )
    )
    a = tok.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    b = tok.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    brute = (
        a.join(b, F.col("doc1") < F.col("doc2"))
        .select(
            "doc1",
            "doc2",
            inter.alias("n_inter"),
            (F.size("sh1") + F.size("sh2") - inter).alias("n_union"),
        )
        .filter(F.col("n_inter") * 5 >= F.col("n_union") * 4)
    )
    want = {
        (r["doc1"], r["doc2"], r["n_inter"], r["n_union"])
        for r in brute.collect()
    }
    assert got == want
    assert len(got) > 0  # planted near-dups exist at sf0.001


def test_doc_token_counts_equals_groupby_rollup(spark, sf_dir):
    """The row-local run-length token counter must emit exactly the
    rows of the shuffle-based explode → groupBy → count rollup —
    including repeated tokens, mixed whitespace, and empty texts."""
    crafted = spark.createDataFrame(
        [
            (1, "en", "a b a  c b a"),
            (2, "id", "   "),
            (3, "en", "x"),
            (4, "xx", "z z z z"),
            (5, "en", "b a\tb  a\nb"),
        ],
        "doc_id long, lang string, text string",
    )
    real = load_table(spark, sf_dir, "documents")
    for docs in (crafted, real):
        got = wave44.doc_token_counts(docs)
        want = (
            docs.select(
                "doc_id",
                "lang",
                F.explode(F.expr(wave44._ws_tokens("text"))).alias("w"),
            )
            .groupBy("doc_id", "lang", "w")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        # dtypes, not schema: the run-length cnt is nullable where
        # count(*) is not; every downstream aggregate is nullable
        # either way, so the spec's final schema is unchanged
        assert got.dtypes == want.dtypes
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_dsir_target_language_scores_highest(spark, sf_dir):
    rows = {r["lang"]: r for r in wave44.d_dsir_weights(spark, sf_dir).collect()}
    en = rows["en"]["mean_score"]
    for lang, r in rows.items():
        if lang != "en":
            assert en > r["mean_score"]


def test_temperature_flattens_mixture(spark, sf_dir):
    rows = wave44.s_temperature_mixture(spark, sf_dir).collect()
    assert abs(sum(r["raw_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-4
    hi = max(rows, key=lambda r: r["raw_share"])
    lo = min(rows, key=lambda r: r["raw_share"])
    # sqrt-scaling shrinks the head and boosts the tail
    assert hi["temp_share"] < hi["raw_share"]
    assert lo["temp_share"] > lo["raw_share"]
