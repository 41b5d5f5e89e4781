"""Text-analysis operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from idn_area_etl_spark.operators.text import (
    fingerprint_expr,
    lang_scores,
    quality_score_expr,
    rolling_fingerprint_expr,
    token_stats,
)


def make_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", f"s{i}", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_token_stats(spark):
    docs = make_docs(spark, ["the cat sat on the mat", "hello, world!"])
    rows = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert rows[0]["n_ws_tokens"] == 6
    assert rows[0]["n_distinct_tokens"] == 5          # 'the' twice
    assert rows[1]["n_ws_tokens"] == 2
    assert rows[1]["n_bpe_tokens"] == 4               # hello , world !


def test_quality_score_bounds(spark):
    docs = make_docs(spark, ["the of and to in is a " * 20, "zzz!!!"])
    rows = {r["doc_id"]: r["q"] for r in docs.select(
        "doc_id", quality_score_expr("text").alias("q")).collect()}
    assert 0.0 <= rows[1] < rows[0] <= 1.1


def test_lang_scores_detects_stopwords(spark):
    docs = make_docs(spark, [
        "the cat and the dog of the house is in the garden",
        "le chat et la maison des gens",
        "el perro y los gatos del pueblo",
        "der hund und die katze nicht",
        "这 是 中文 文本",
    ])
    rows = {r["doc_id"]: r["lang_guess"] for r in lang_scores(docs).collect()}
    assert rows[0] == "en"
    assert rows[1] == "fr"
    assert rows[2] == "es"
    assert rows[3] == "de"
    assert rows[4] == "zh"


def test_fingerprint_whitespace_invariant(spark):
    docs = make_docs(spark, ["Hello   World", "hello world", "hello  world "])
    fps = [r["fp"] for r in docs.select(
        fingerprint_expr(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_rolling_fingerprint_shift_robust(spark):
    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    docs = make_docs(spark, [base, "XX" + base, "totally different content!"])
    fps = [r["fp"] for r in docs.select(
        rolling_fingerprint_expr(F.col("text")).alias("fp")).collect()]
    # prefix-shifted copy keeps the same minimum window hash
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]
