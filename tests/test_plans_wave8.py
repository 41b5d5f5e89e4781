"""Eighth-wave tests: planted-fixture behavior checks for the
curation operators (PII, repetition, contamination, cohesion,
outliers) that the synthetic corpus alone exercises only trivially."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import contamination_overlap
from idn_area_etl_spark.operators.similarity import centroid_cohesion
from idn_area_etl_spark.operators.text import (
    corpus_bigram_topk,
    pii_scrub_expr,
    pii_stats,
    repetition_stats,
)
from idn_area_etl_spark.plans import all_specs, wave8


def test_all_wave8_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave8.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave8.SPECS if s.oracle is not None]
)
def test_wave8_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


# --------------------------------------------------------------------------
# PII: planted fixtures (the synthetic corpus has none)
# --------------------------------------------------------------------------


def _pii_docs(spark):
    rows = [
        (1, "contact me at alice.smith+spam@example.co.uk for details"),
        (2, "call 555-123-4567 or 555 1234 5678 today"),
        (3, "ssn-ish 123456789 and card 4111111111111111 here"),
        (4, "perfectly clean text with number 42 and 1234-5678"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pii_counts_planted(spark):
    out = {
        r.doc_id: r for r in pii_stats(_pii_docs(spark)).collect()
    }
    assert out[1].n_emails == 1 and out[1].n_phones == 0
    assert out[2].n_phones == 2
    assert out[3].n_long_ids == 2
    assert out[4].n_emails == out[4].n_phones == out[4].n_long_ids == 0


def test_pii_scrub_redacts(spark):
    scrubbed = {
        r.doc_id: r.s
        for r in _pii_docs(spark)
        .select("doc_id", pii_scrub_expr(F.col("text")).alias("s"))
        .collect()
    }
    assert scrubbed[1] == "contact me at [EMAIL] for details"
    assert scrubbed[2] == "call [PHONE] or [PHONE] today"
    assert scrubbed[3] == "ssn-ish [ID] and card [ID] here"
    assert scrubbed[4] == "perfectly clean text with number 42 and 1234-5678"


# --------------------------------------------------------------------------
# Repetition: a degenerate doc must score far above a diverse one
# --------------------------------------------------------------------------


def test_repetition_flags_boilerplate(spark):
    docs = spark.createDataFrame(
        [
            (1, "buy now " * 50),
            (2, "a quick brown fox jumps over the lazy sleeping dog"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[1].dup_ratio > 0.9
    assert out[1].top_token == "buy"
    assert out[1].top_share == 0.5
    assert out[2].dup_ratio == 0.0
    assert out[2].n_tokens == out[2].n_distinct == 10


# --------------------------------------------------------------------------
# Contamination: a copy of a benchmark doc must rank first
# --------------------------------------------------------------------------


def test_contamination_ranks_planted_copy_first(spark):
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (10, bench_text),                     # benchmark (doc_id % 10 == 0)
            (11, bench_text + " extra tail"),     # near-copy → contaminated
            (12, "one two three four five six seven eight nine ten"),
        ],
        ["doc_id", "text"],
    )
    out = contamination_overlap(docs, n=3, mod=10, top_k=5).collect()
    assert out, "planted copy should produce at least one overlap row"
    top = out[0]
    assert top.doc_id == 11
    assert top.contamination > 0.7
    assert all(r.doc_id != 12 for r in out)


# --------------------------------------------------------------------------
# Bigrams: exact counts on a tiny corpus
# --------------------------------------------------------------------------


def test_bigram_counts_exact(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        ["doc_id", "text"],
    )
    out = {r.bigram: r.cnt for r in corpus_bigram_topk(docs, top_k=10).collect()}
    assert out == {"a b": 3, "b a": 1, "b c": 1}


# --------------------------------------------------------------------------
# Cohesion: tight cluster ≈ 1.0, antipodal pair ≈ 0.0 mean cosine
# --------------------------------------------------------------------------


def test_cohesion_tight_vs_spread(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.001], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.0, -1.0], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.label: r for r in centroid_cohesion(emb).collect()}
    assert out[0].n_members == 2 and out[0].cohesion > 0.999
    # label 1 is antipodal → zero-norm centroid → cosine undefined for
    # every member → the whole label drops out
    assert 1 not in out


# --------------------------------------------------------------------------
# Outliers: a planted extreme value must rank first
# --------------------------------------------------------------------------


def test_outlier_scan_finds_planted_spike(spark, sf_dir):
    spec = all_specs()["q_value_outliers"]
    out = spec.builder(spark, sf_dir).collect()
    assert len(out) == 50
    zs = [abs(r.zscore) for r in out]
    assert zs == sorted(zs, reverse=True)
    assert zs[0] > 2.0
