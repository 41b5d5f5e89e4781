"""Distributed BPE tokenizer training — the LLM-pipeline op that
turns the engine into a tokenizer factory.

Classic byte-pair-encoding over the corpus vocabulary (Sennrich et
al. 2016, public algorithm): start from character symbols, repeatedly
merge the most frequent adjacent symbol pair.  Spark-first shape:

- The corpus collapses to a (word, freq) vocabulary ONCE — a single
  map-side-combinable aggregation; every later round works on the
  vocabulary, which is orders of magnitude smaller than the corpus
  (Heaps' law), so 100 TB of text trains against a few million rows.
- Each round is: row-local adjacent-pair explode (weighted by word
  freq) → one pair-keyed count aggregation, checkpointed with THE
  winning pair (count desc, then lexicographic pair) observed on it —
  no separate collect → a row-local fold that merges leftmost-first
  non-overlapping occurrences, checkpointed at the next round's start.
- The merge fold is a higher-order ``aggregate`` with
  (out, prev) state — pure codegen, no UDF; determinism does not
  depend on partitioning because pair counts are exact integers and
  the winner is tie-broken lexicographically.

No SQL oracle (the K-round loop is not one SQL statement — and
DuckDB's list_reduce aliases fold state, NOTES_r1.md); correctness is
pinned exactly against a pure-Python reference implementation in
tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from idn_area_etl_spark.operators.stage import _release, _round
from idn_area_etl_spark.operators.text import tokens_expr

#: end-of-word marker (standard BPE — keeps merges word-internal).
EOW = "</w>"


def vocab_from_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) vocabulary with words pre-split into character
    symbols + EOW marker."""
    words = docs.select(
        F.explode(tokens_expr(F.col(text_col))).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("freq"))
    symbols = F.concat(
        F.split(F.col("word"), ""),  # chars
        F.array(F.lit(EOW)),
    )
    return vocab.select("word", "freq", symbols.alias("symbols"))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    n = F.greatest(F.lit(0), F.size("symbols") - F.lit(1))
    pairs = F.zip_with(
        F.slice("symbols", 1, n),
        F.slice("symbols", 2, n),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "freq")
        .groupBy("p.left", "p.right")
        .agg(F.sum("freq").alias("pair_count"))
    )


def merge_expr(symbols: Column, left: str, right: str) -> Column:
    """Merge leftmost-first non-overlapping (left, right) adjacent
    occurrences inside a symbol array — a codegen fold."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("").alias("prev"),
    )

    def step(acc: Column, s: Column) -> Column:
        is_merge = (acc["prev"] == left) & (s == F.lit(right))
        out = (
            F.when(acc["prev"] == "", acc["out"])
            .when(is_merge, F.concat(acc["out"], F.array(F.lit(merged))))
            .otherwise(F.concat(acc["out"], F.array(acc["prev"])))
        )
        prev = F.when(is_merge, F.lit("")).otherwise(s)
        return F.struct(out.alias("out"), prev.alias("prev"))

    def finish(acc: Column) -> Column:
        return F.when(
            acc["prev"] == "", acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["prev"])))

    return F.aggregate(symbols, init, step, finish)


def train_bpe(
    docs: DataFrame, n_merges: int = 10, text_col: str = "text"
) -> list[dict]:
    """Run n_merges BPE rounds; returns the merge table
    [{round, left, right, merged, pair_count}, ...]."""
    # the most frequent pair, ties → lexicographic (left, right)
    best = F.min_by(
        F.struct("left", "right", "pair_count"),
        F.struct(-F.col("pair_count"), "left", "right"),
    ).alias("top")
    current, _ = _round(vocab_from_docs(docs, text_col))
    counts, merges = None, []
    for rnd in range(1, n_merges + 1):
        if merges:  # fold the previous round's winner in
            symbols = merge_expr(F.col("symbols"), top["left"], top["right"]).alias("symbols")
            current, _ = _round(current.select("word", "freq", symbols), prev=current)
        counts, m = _round(_pair_counts(current), [best], prev=counts)
        top = m["top"]
        if top is None:
            break
        merges.append({"round": rnd, "merged": top["left"] + top["right"], **top.asDict()})
    _release(current, counts)
    return merges


def encode_with_merges(
    docs: DataFrame, merges: list[dict], text_col: str = "text"
) -> DataFrame:
    """Apply a trained merge table to encode documents; returns
    (doc cols..., n_tokens) with the BPE token count per document."""
    toks = tokens_expr(F.col(text_col))
    word_syms = F.transform(
        toks,
        lambda w: F.concat(F.split(w, ""), F.array(F.lit(EOW))),
    )
    col = word_syms
    for m in merges:
        left, right = m["left"], m["right"]
        col = F.transform(col, lambda syms: merge_expr(syms, left, right))
    n_tokens = F.aggregate(
        F.transform(col, lambda syms: F.size(syms)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return docs.withColumn("n_tokens", n_tokens)


def reference_bpe(texts: list[str], n_merges: int = 10) -> list[dict]:
    """Pure-Python reference implementation (for tests)."""
    from collections import Counter

    vocab: Counter = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                vocab[w] += 1
    symbols = {w: list(w) + [EOW] for w in vocab}
    merges: list[dict] = []
    for rnd in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for w, freq in vocab.items():
            syms = symbols[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append(
            {
                "round": rnd,
                "left": left,
                "right": right,
                "merged": left + right,
                "pair_count": cnt,
            }
        )
        for w in vocab:
            syms = symbols[w]
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            symbols[w] = out
    return merges
