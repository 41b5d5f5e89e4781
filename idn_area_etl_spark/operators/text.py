"""Text-analysis operators for LLM-data pipelines.

All native column expressions (JVM codegen, no UDFs): token counting
(whitespace + BPE-ish regex), quality scoring, stopword-n-gram
language ID, and content fingerprinting (md5 canonical + polynomial
rolling hash).  Linear per-row work → trivially scalable; no shuffles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.functions.cleaning import WHITESPACE, sql_string

#: BPE-ish tokenization: word runs or single non-word-non-space chars.
BPE_TOKEN_PATTERN = r"\w+|[^\w\s]"

#: language-ID stopword regexes (ASCII word-bounded, lowercased input)
LANG_STOPWORD_PATTERNS = {
    "en": r"\b(the|and|of|is|in)\b",
    "fr": r"\b(le|la|les|et|des)\b",
    "es": r"\b(el|los|las|y|del)\b",
    "de": r"\b(der|die|das|und|nicht)\b",
}
CJK_PATTERN = r"[一-鿿]"

QUALITY_STOPWORDS = r"\b(the|a|of|and|to|in|is)\b"


def _ws_tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics."""
    text = F.col(text_col)
    toks = _ws_tokens(text)
    return docs.select(
        "doc_id",
        F.length(text).alias("n_chars_measured"),
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN)).alias("n_bpe_tokens"),
    )


def quality_score_expr(text: str) -> Column:
    """Composite quality score in [0, 1] of column ``text``:

    0.4·stopword-ratio + 0.3·length-norm + 0.3·(1 − punct-ratio).

    Single per-row IEEE expression (deterministic), rounded to 6 dp to
    pin the cross-engine comparison.  Built as one parsed SQL string;
    its constants are ``D`` (double) literals, as a bare ``0.4`` is a
    decimal in Spark SQL.
    """
    stopwords, punct = sql_string(QUALITY_STOPWORDS), sql_string(r"[^\w\s]")
    stop_ratio = (
        f"CAST(regexp_count(lower({text}), {stopwords}) AS DOUBLE)"
        f" / size(split(trim({text}), {WHITESPACE}))"
    )
    len_norm = f"least(1.0D, CAST(length({text}) AS DOUBLE) / 500.0D)"
    punct_ratio = f"CAST(regexp_count({text}, {punct}) AS DOUBLE) / length({text})"
    return F.expr(
        f"round(0.4D * ({stop_ratio}) + 0.3D * {len_norm}"
        f" + 0.3D * (1.0D - {punct_ratio}), 6)"
    )


def lang_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit scores per language + argmax guess (CJK presence
    short-circuits to 'zh'; ties resolve en > fr > es > de)."""
    text = F.col(text_col)
    lowered = F.lower(text)
    scores = {
        lang: F.regexp_count(lowered, F.lit(pat))
        for lang, pat in LANG_STOPWORD_PATTERNS.items()
    }
    s_zh = F.regexp_count(text, F.lit(CJK_PATTERN))
    guess = (
        F.when(s_zh > 0, F.lit("zh"))
        .when(
            (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"]),
            F.lit("en"),
        )
        .when(
            (scores["fr"] >= scores["es"]) & (scores["fr"] >= scores["de"]),
            F.lit("fr"),
        )
        .when(scores["es"] >= scores["de"], F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return docs.select(
        "doc_id",
        scores["en"].alias("s_en"),
        scores["fr"].alias("s_fr"),
        scores["es"].alias("s_es"),
        scores["de"].alias("s_de"),
        s_zh.alias("s_zh"),
        guess.alias("lang_guess"),
    )


#: PII patterns — written in the RE2/Java-regex common subset so the
#: same pattern string runs on both engines (no lookaround, no
#: backrefs).  Scrub order matters: emails first (their digit runs
#: must not be half-eaten by the id pattern), then phones, then bare
#: long digit runs.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_PATTERN = r"\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b"
PII_LONG_ID_PATTERN = r"\b\d{9,}\b"


def pii_scrub_expr(text: Column) -> Column:
    """Redact emails, phone-shaped numbers, and long digit runs.

    Pure ``regexp_replace`` chain — JVM codegen, linear per-row work,
    no shuffle; the standard pre-training scrub pass at corpus scale.
    """
    out = F.regexp_replace(text, PII_EMAIL_PATTERN, "[EMAIL]")
    out = F.regexp_replace(out, PII_PHONE_PATTERN, "[PHONE]")
    return F.regexp_replace(out, PII_LONG_ID_PATTERN, "[ID]")


def pii_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII hit counts + post-scrub length."""
    text = F.col(text_col)
    return docs.select(
        "doc_id",
        F.regexp_count(text, F.lit(PII_EMAIL_PATTERN)).alias("n_emails"),
        F.regexp_count(text, F.lit(PII_PHONE_PATTERN)).alias("n_phones"),
        F.regexp_count(text, F.lit(PII_LONG_ID_PATTERN)).alias("n_long_ids"),
        F.length(pii_scrub_expr(text)).alias("scrubbed_len"),
    )


def tokens_expr(text: Column) -> Column:
    """Lowercased whitespace tokens with empties dropped (the shared
    tokenizer for repetition / bigram / shingle operators)."""
    return F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != F.lit("")
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Boilerplate/repetition metrics per document.

    ``dup_ratio`` = 1 − distinct/total tokens; ``top_share`` = share of
    the single most frequent token (ties → lexicographically smallest).
    Filtering high-repetition docs is a standard pre-training quality
    gate (boilerplate, keyword stuffing, decode loops).

    Scale: explode → two map-side-combinable aggregations keyed by
    ``doc_id`` — embarrassingly parallel, skew-bounded by the longest
    single document.
    """
    exploded = docs.select(
        "doc_id", F.explode(tokens_expr(F.col(text_col))).alias("token")
    )
    counts = exploded.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "token")
    ranked = counts.withColumn("rn", F.row_number().over(w))
    n_tokens = F.sum("cnt")
    return (
        ranked.groupBy("doc_id")
        .agg(
            n_tokens.alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.min(F.when(F.col("rn") == 1, F.col("token"))).alias("top_token"),
            F.round(
                F.max("cnt").cast("double") / n_tokens, 6
            ).alias("top_share"),
            F.round(
                F.lit(1.0) - F.count("*").cast("double") / n_tokens, 6
            ).alias("dup_ratio"),
        )
    )


def corpus_bigram_topk(
    docs: DataFrame, top_k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Top-k corpus token bigrams — the n-gram-LM count kernel.

    Bigram generation is row-local (zip of the token array with its
    own tail — no index arithmetic that could hit Spark's descending
    ``sequence`` on 1-token docs); the only distributed work is one
    count aggregation with map-side partial top-k semantics via
    ``orderBy().limit()``.
    """
    toks = tokens_expr(F.col(text_col))
    n = F.greatest(F.lit(0), F.size(toks) - F.lit(1))
    bigrams = F.zip_with(
        F.slice(toks, 1, n),
        F.slice(toks, 2, n),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(top_k)
    )


def nfc_normalize_udf():
    """Arrow-vectorized (pandas_udf) Unicode NFC normalization — the
    one text op Spark has no native expression for; returns the UDF
    (call it on a string column).

    This is the deliberate showcase of the vectorized-UDF slow path:
    data crosses to Python in Arrow batches (not per-row pickling),
    `unicodedata.normalize` runs columnar, and the result returns as
    one Arrow array — ~10-100× cheaper than a row-at-a-time udf().
    Semantics match DuckDB's ``nfc_normalize`` (both implement UAX#15).
    """
    import unicodedata

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc


def fingerprint_expr(text: Column) -> Column:
    """Canonical content fingerprint: md5 of the whitespace-collapsed,
    lowercased text."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def kgram_hashes_expr(text: Column, k: int = 8) -> Column:
    """All ``k``-gram polynomial rolling hashes of a string (Karp-Rabin
    base-257 mod 1e9+7), one per window position."""
    p = F.lit(1_000_000_007).cast("long")

    def window_hash(i: Column) -> Column:
        chars = F.split(F.substring(text, i, F.lit(k)), "")
        return F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(
                acc * 257 + F.coalesce(F.ascii(ch), F.lit(0)), p
            ),
        )

    positions = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.length(text) - F.lit(k - 1))
    )
    return F.transform(positions, window_hash)


def rolling_fingerprint_expr(text: Column, window: int = 8) -> Column:
    """Polynomial rolling-hash document fingerprint.

    Karp-Rabin style: hash every ``window``-char substring, keep the
    minimum — a shift-robust fingerprint (winnowing-lite).  Pure
    higher-order expressions; used by tests, not oracle-compared (not
    reasonably SQL-expressible in DuckDB).
    """
    return F.array_min(kgram_hashes_expr(text, window))


def winnow_fingerprints_expr(text: Column, k: int = 20, w: int = 8) -> Column:
    """Winnowed fingerprint set (Schleimer et al., "Winnowing: Local
    Algorithms for Document Fingerprinting", SIGMOD'03): the distinct
    minima of each ``w``-window over the ``k``-gram rolling hashes.

    Guarantees every shared substring of length ≥ k + w − 1 yields at
    least one shared fingerprint, while keeping ~1/w of the hashes —
    the standard substring-level (not whole-doc) dedup signature.
    Entirely higher-order expressions: row-local, JVM codegen, no
    shuffle until the pair join.
    """
    hashes = kgram_hashes_expr(text, k)
    nh = F.size(hashes)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), nh - F.lit(w - 1))),
        lambda j: F.array_min(F.slice(hashes, j, F.lit(w))),
    )
    return F.array_distinct(mins)


def winnow_fingerprint_rows(
    docs: DataFrame,
    k: int = 20,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct winnowed fingerprints as ``(doc_id, fp)`` rows —
    value-identical to ``explode(winnow_fingerprints_expr(...))``
    (pinned by ``tests/test_text.py``) but computed as a vectorized
    Arrow batch instead of interpreted higher-order lambdas.

    The rolling k-gram hash is a sequential per-document scan — the
    textbook mapInPandas case: the expression form costs O(len·k)
    *interpreted* lambda evaluations per document (~40 ms/doc at
    k=20 measured), while numpy runs the same int64 arithmetic as k
    vectorized passes over the position axis (~0.1 ms/doc).  Work
    stays row-local (no shuffle); Arrow batches amortize the Python
    crossing.  This is the hot path ``winnow_substring_pairs`` uses;
    the expression form remains for engine-portability reference and
    the equivalence test.
    """
    import numpy as np

    P = 1_000_000_007

    def fold(codes: "np.ndarray") -> int:
        h = 0
        for c in codes:
            h = (h * 257 + int(c)) % P
        return h

    def batches(it):
        for pdf in it:
            ids: list = []
            fps: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    # expr path yields a single NULL fingerprint for
                    # NULL text (greatest(1, null)=1 → [null] array);
                    # mirror it — NULL never equi-joins downstream
                    ids.append(doc_id)
                    fps.append(None)
                    continue
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = codes.size
                if n <= k:
                    # single window over however many chars exist
                    # (substring shorter than k; empty text folds to 0
                    # because ascii('') is null->coalesce 0)
                    hs = np.array([fold(codes)], dtype=np.int64)
                else:
                    npos = n - k + 1
                    h = np.zeros(npos, dtype=np.int64)
                    for j in range(k):
                        h = (h * 257 + codes[j : j + npos]) % P
                    hs = h
                if hs.size <= w:
                    mins = np.array([hs.min()], dtype=np.int64)
                else:
                    mins = np.lib.stride_tricks.sliding_window_view(
                        hs, w
                    ).min(axis=1)
                uniq = np.unique(mins)
                ids.extend([doc_id] * uniq.size)
                fps.extend(uniq.tolist())
            yield pd.DataFrame({id_col: ids, "fp": fps})

    id_type = dict(docs.dtypes)[id_col]
    return docs.select(id_col, text_col).mapInPandas(
        batches, schema=f"{id_col} {id_type}, fp long"
    )


#: standard Soundex letter→digit map for A..Z (vowels/H/W/Y → 0).
SOUNDEX_DIGITS = "01230120022455012623010202"


def soundex_expr(word: Column) -> Column:
    """Simplified Soundex phonetic code (4 chars) as a pure native
    expression — the classic blocking key for fuzzy name matching.

    Engine-portable by construction: the run-collapse step is six
    literal ``regexp_replace(d{2,} -> d)`` passes instead of the
    textbook backreference ``(.)\\1+`` (DuckDB's RE2 has no
    backreferences, Java does — a backref would make the oracle
    unverifiable).  Ignores the H/W-adjacency refinement of full
    Soundex; deterministic and identical across engines.

    Scale: per-row scalar chain, whole-stage codegen, no shuffle.
    """
    up = F.upper(word)
    first = F.substring(up, 1, 1)
    digits = F.translate(
        F.substring(up, 2, 1_000_000),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        SOUNDEX_DIGITS,
    )
    for d in "123456":
        digits = F.regexp_replace(digits, d + "{2,}", d)
    digits = F.replace(digits, F.lit("0"), F.lit(""))
    return F.substring(F.concat(first, digits, F.lit("000")), 1, 4)
