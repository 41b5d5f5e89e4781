"""Twenty-second-wave tests: Soundex unit behavior, perplexity
structural identities, and numpy cross-check of canopy-blocked
semantic-dedup cosines."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.text import soundex_expr, tokens_expr
from idn_area_etl_spark.plans import all_specs, wave22
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave22_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave22.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave22.SPECS if s.oracle is not None]
)
def test_wave22_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_soundex_known_codes(spark):
    cases = [
        ("robert", "R163"),
        ("rupert", "R163"),  # classic phonetic collision
        ("smith", "S53"[:4].ljust(4, "0") if False else "S530"),
        ("widget", "W323"),
        ("wydgit", "W323"),  # planted near-spelling collision
        ("a", "A000"),
        ("AARON", "A650"),
    ]
    df = spark.createDataFrame([(w,) for w, _ in cases], "w string")
    got = dict(
        df.select("w", soundex_expr(F.col("w")).alias("sx")).collect()
    )
    for w, expect in cases:
        assert got[w] == expect, (w, got[w], expect)


def test_phonetic_blocks_partition_parts(spark, sf_dir):
    blocks = wave22.d_phonetic_blocks(spark, sf_dir).collect()
    n_parts = load_table(spark, sf_dir, "part").count()
    assert sum(r["n_parts"] for r in blocks) == n_parts
    for r in blocks:
        assert r["n_spellings"] <= r["n_parts"]
        assert r["first_name"] <= r["last_name"]


def test_perplexity_counts_and_positivity(spark, sf_dir):
    scored = wave22.d_perplexity_bigram(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_expr(F.col("text"))).alias("n_tok")
    )
    j = scored.join(docs, "doc_id").collect()
    assert len(j) > 0
    for r in j:
        assert r["n_bigrams"] == r["n_tok"] - 1
        # add-one smoothing: probability < 1 strictly (vocab > 1)
        assert r["avg_nll"] > 0.0


def test_semantic_dedup_cosines_match_numpy(spark, sf_dir):
    pairs = wave22.e_semantic_dedup_seeded(spark, sf_dir).collect()
    assert len(pairs) > 0
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    for r in pairs[:10]:
        a, b = emb[r["vec_a"]], emb[r["vec_b"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert r["cosine"] == pytest.approx(cos, abs=1e-5)
        assert r["cosine"] > wave22.SEMDUP_THRESHOLD
        assert r["vec_a"] < r["vec_b"]


def test_seeded_clusters_cover_all_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = wave22.seeded_semantic_clusters(emb)
    assert assigned.count() == emb.count()
    clusters = {r["cluster"] for r in assigned.select("cluster").distinct().collect()}
    seeds = {
        r["vec_id"]
        for r in emb.orderBy("vec_id").limit(wave22.N_SEEDS).collect()
    }
    assert clusters <= seeds
    # every seed belongs to its own cluster (cosine with itself = 1)
    own = {
        r["vec_id"]: r["cluster"]
        for r in assigned.filter(F.col("vec_id").isin(list(seeds))).collect()
    }
    for sid in seeds:
        assert own[sid] == sid
