"""Streaming fuzzy dedup: MinHash-LSH candidates + exact-Jaccard
verification across micro-batches, state in the sinks.

Plants near-duplicate documents within one chunk and across chunks,
drains the bounded stream chunk-by-chunk (maxFilesPerTrigger=1), and
asserts the greedy first-seen-wins semantics: a document is
quarantined iff it verifies against a retained store doc or a
smaller-id doc of its own batch.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.streaming.fuzzy_dedup import run_fuzzy_dedup_stream

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one-token edit
NEAR2 = BASE.replace("birds sing", "birds chirp")  # different one-token edit
OTHER = (
    "completely different content about spark query engines and their "
    "catalyst optimizer rules for predicate pushdown and column pruning"
)
THIRD = (
    "a totally unrelated essay on sourdough bread baking with rye flour "
    "hydration ratios proofing schedules and dutch oven steam tricks"
)

CHUNKS = [
    # chunk 0: base + within-batch exact copy + one unique
    [(1, BASE), (2, BASE), (3, OTHER)],
    # chunk 1: cross-batch near-dup of doc 1, plus a new unique
    [(10, NEAR), (11, THIRD)],
    # chunk 2: near-dup of doc 1 again + exact copy of chunk-1 unique
    [(20, NEAR2), (21, THIRD)],
]


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fuzzy_stream")
    in_dir = root / "in"
    in_dir.mkdir()
    for i, rows in enumerate(CHUNKS):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(str(in_dir / f"chunk_{i}.parquet"))
    counts = run_fuzzy_dedup_stream(
        spark, str(in_dir / "*"), str(root / "out")
    )
    return spark, root, counts


def test_counts(result):
    _, _, counts = result
    # retained: 1 (first BASE), 3, 11; quarantined: 2, 10, 20, 21
    assert counts == {"unique": 3, "duplicate": 4}


def test_store_holds_first_seen_uniques(result):
    spark, root, _ = result
    docs = spark.read.parquet(str(root / "out" / "store" / "docs"))
    assert {r.doc_id for r in docs.select("doc_id").collect()} == {1, 3, 11}
    buckets = spark.read.parquet(str(root / "out" / "store" / "buckets"))
    assert {r.doc_id for r in buckets.select("doc_id").distinct().collect()} \
        == {1, 3, 11}


def test_duplicates_matched_to_first_seen(result):
    spark, root, _ = result
    dups = {
        r.doc_id: (r.matched_id, r.matched_jaccard)
        for r in spark.read.parquet(str(root / "out" / "duplicates")).collect()
    }
    assert set(dups) == {2, 10, 20, 21}
    assert dups[2][0] == 1 and dups[2][1] == 1.0   # within-batch exact
    assert dups[10][0] == 1 and dups[10][1] < 1.0  # cross-batch near
    assert dups[20][0] == 1 and dups[20][1] < 1.0  # cross-batch near
    assert dups[21][0] == 11 and dups[21][1] == 1.0  # cross-batch exact


def test_uncommitted_partial_writes_are_invisible(spark, tmp_path):
    """foreachBatch is at-least-once: a batch that crashed mid-write
    leaves partial store rows behind with NO ledger entry.  Those rows
    must be invisible to later matching — the classic failure is a
    re-processed doc quarantining against its own partial copy
    (self-match, jaccard 1.0)."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [(7, BASE)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(in_dir / "chunk.parquet"))

    out = tmp_path / "out"
    # simulate the crashed attempt: partial store rows for doc 7 under
    # a commit id that never reached the ledger
    from idn_area_etl_spark.operators.dedup import (
        _minhash_sketch,
        _sets_and_keys,
    )

    (out / "_commits").mkdir(parents=True)
    partial = spark.createDataFrame([(7, BASE)], "doc_id long, text string")
    pdocs, pbuckets = _sets_and_keys(
        _minhash_sketch(partial, 64, 3, "text"), 64, 32
    )
    for df, sub in ((pdocs, "docs"), (pbuckets, "buckets")):
        df.withColumn("commit", F.lit("deadbeef-0")).write.mode(
            "append"
        ).partitionBy("commit").parquet(str(out / "store" / sub))

    counts = run_fuzzy_dedup_stream(spark, str(in_dir / "*"), str(out))
    # doc 7 is retained as unique — it did NOT match its partial copy
    assert counts == {"unique": 1, "duplicate": 0}


def test_fully_committed_epoch_redelivery_is_noop(spark, tmp_path):
    """Same input + same checkpoint drained twice: the second drain
    redelivers nothing new and every sink stays exactly once."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [(1, BASE), (2, BASE)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(in_dir / "chunk.parquet"))
    out = tmp_path / "out"
    first = run_fuzzy_dedup_stream(spark, str(in_dir / "*"), str(out))
    second = run_fuzzy_dedup_stream(spark, str(in_dir / "*"), str(out))
    assert first == second == {"unique": 1, "duplicate": 1}


def test_restart_safe_store_is_the_state(result):
    """Draining an identical second stream against the SAME store dir
    must quarantine everything (all docs match the retained store)."""
    spark, root, _ = result
    in2 = root / "in2"
    in2.mkdir()
    spark.createDataFrame(
        [(100, BASE), (101, OTHER), (102, THIRD)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(in2 / "chunk.parquet"))
    counts = run_fuzzy_dedup_stream(
        spark,
        str(in2 / "*"),
        str(root / "out"),
        checkpoint_path=str(root / "out" / "_checkpoint2"),
    )
    assert counts == {"unique": 3, "duplicate": 7}  # cumulative sinks
    dups = {
        r.doc_id: r.matched_id
        for r in spark.read.parquet(str(root / "out" / "duplicates")).collect()
    }
    assert dups[100] == 1 and dups[101] == 3 and dups[102] == 11


def test_one_batch_stream_matches_batch_operator(
    spark, tmp_path, monkeypatch
):
    """Batch and streaming fuzzy dedup share one MinHash/verify core:
    the planted corpus streamed as ONE micro-batch quarantines exactly
    the ``doc_b`` side of ``minhash_verified_pairs`` on the same docs,
    and ``curate(mode="fuzzy")`` keeps the complement.  The micro-batch
    builds its shingle scan once."""
    from idn_area_etl_spark.curate import curate
    from idn_area_etl_spark.operators import dedup

    rows = [r for chunk in CHUNKS for r in chunk]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    docs.coalesce(1).write.parquet(str(in_dir / "chunk.parquet"))
    scans = []
    shingles = dedup.token_shingles_expr
    monkeypatch.setattr(
        dedup,
        "token_shingles_expr",
        lambda *a: scans.append(a) or shingles(*a),
    )
    counts = run_fuzzy_dedup_stream(
        spark, str(in_dir / "*"), str(tmp_path / "out")
    )
    monkeypatch.undo()
    assert len(scans) == 1
    quarantined = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "out" / "duplicates"))
        .select("doc_id")
        .collect()
    }
    doc_b = {r.doc_b for r in dedup.minhash_verified_pairs(docs).collect()}
    assert quarantined == doc_b == {2, 10, 20, 21}
    assert counts == {
        "unique": len(rows) - len(doc_b),
        "duplicate": len(doc_b),
    }
    kept = {r.doc_id for r in curate(docs, mode="fuzzy").collect()}
    assert kept == {doc_id for doc_id, _ in rows} - doc_b
