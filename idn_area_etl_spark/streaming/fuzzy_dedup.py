"""Streaming fuzzy dedup: MinHash-LSH across micro-batches.

The batch-mode 100 TB fuzzy-dedup recipe
(:func:`~idn_area_etl_spark.operators.dedup.minhash_verified_pairs` —
banded-LSH candidate generation, then exact hashed-shingle Jaccard
verification on candidates only) lifted onto the Structured Streaming
ingest path a training-data pipeline actually runs: documents arrive
as micro-batches; each batch is checked against (a) the accumulated
unique-document store and (b) itself; survivors append to the store,
duplicates are routed to a quarantine sink together with the matched
representative and the exact Jaccard.

Design notes (same stance as micro_batch.py's first-seen provinces):

- **State lives in the sinks**, not in executor memory: the store is
  two parquet tables — ``store/docs`` (doc_id, hashed shingle set,
  set size) and ``store/buckets`` (doc_id, band_no, band_hash).
  At cluster scale the same layout maps onto any transactional table
  format.
- **Idempotent per-batch commits**: ``foreachBatch`` is
  at-least-once, so blind appends would double-write on a batch
  retry — and worse, a re-processed doc would then match its own
  partially-written store copy (self-match, jaccard 1.0).  Every
  sink is therefore partitioned by a ``commit`` id
  (``<run>-<epoch>``) written with dynamic partition overwrite (a
  retry REPLACES its own partition, never appends), store reads see
  only commits recorded in the ``_commits`` ledger (a retried
  epoch's partial rows are invisible), and a fully-committed epoch
  re-delivered after a checkpoint race is skipped outright.  This is
  the parquet-level equivalent of the transactional-table commit a
  production deployment gets from Delta/Iceberg.
- **Greedy online semantics**: a document is a duplicate iff it
  verifies (exact Jaccard >= tau) against an already-retained store
  document or a smaller-id document of its own batch.  This is the
  standard first-seen-wins online dedup: near-dup *chains* keep only
  their first element; a later element that is within tau of a
  discarded middle element but not of the retained head is kept
  (no transitive closure — that is the batch CC recipe's job,
  ``operators/graph.py``).
- **One core with the batch operator**: each micro-batch is sketched
  once (one regex-shingle scan) by the same private pieces of
  ``operators/dedup.py`` that ``minhash_verified_pairs`` and
  ``curate --mode fuzzy`` use; both candidate joins, batch ⋈ store
  and batch ⋈ batch, are its band-pairs equi-join on the compact
  (band_no, band_hash) key, and both verify through its exact
  hashed-shingle Jaccard.  Same join shape, same 100 TB scaling, same
  answers: a one-batch stream quarantines exactly the ``doc_b`` side
  of the batch operator's pairs.

Reference anchor: extends the reference's chunked processing loop +
cross-chunk ``_seen_provinces`` state (reference cli.py:143-183,
extractors.py:110-112) from exact-key dedup to similarity dedup.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import (
    _band_pairs,
    _minhash_sketch,
    _sets_and_keys,
    _verify_jaccard,
)


def run_fuzzy_dedup_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str | None = None,
    threshold_num: int = 3,
    threshold_den: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
) -> dict[str, int]:
    """Drain a bounded parquet stream of documents (``doc_id`` long,
    ``text`` string, ...) through streaming fuzzy dedup.

    Sinks under ``output_path``: ``store/docs`` + ``store/buckets``
    (retained uniques) and ``duplicates`` (doc_id, matched_id,
    matched_jaccard; ``matched_id`` = smallest verified match and
    ``matched_jaccard`` is THAT pair's similarity), all
    partitioned by ``commit`` with a ``_commits`` ledger making every
    micro-batch write idempotent under foreachBatch retries.  Returns
    ``{"unique": ..., "duplicate": ...}`` counts over committed rows.
    """
    import hashlib

    out = Path(output_path)
    out.mkdir(parents=True, exist_ok=True)
    docs_dir = str(out / "store" / "docs")
    buckets_dir = str(out / "store" / "buckets")
    dups_dir = str(out / "duplicates")
    checkpoint = checkpoint_path or str(out / "_checkpoint")
    commits_dir = out / "_commits"
    commits_dir.mkdir(exist_ok=True)
    # stable across restarts of the SAME query (same checkpoint ⇒ same
    # epoch numbering), distinct for a new query against the same store
    run_id = hashlib.md5(checkpoint.encode()).hexdigest()[:12]

    schema = spark.read.parquet(input_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one chunk per micro-batch
        .parquet(input_path)
    )

    def committed() -> list[str]:
        return [p.name for p in commits_dir.iterdir()]

    def committed_rows(
        sess: SparkSession, path: str, done: list[str]
    ) -> DataFrame:
        return sess.read.parquet(path).where(F.col("commit").isin(done))

    def write_commit(df: DataFrame, path: str, commit_id: str) -> None:
        # dynamic partition overwrite: a retried epoch replaces exactly
        # its own commit partition — never appends, never touches others
        (
            df.withColumn("commit", F.lit(commit_id))
            .write.mode("overwrite")
            .partitionBy("commit")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        sess = batch.sparkSession
        commit_id = f"{run_id}-{epoch_id}"
        done = committed()
        if commit_id in done:
            return  # epoch fully committed; redelivery is a no-op
        # one sketch per micro-batch (one regex-shingle scan); the
        # verify sets and band keys it yields each feed several joins
        # and a sink
        sketch = _minhash_sketch(batch, num_hashes, n, text_col)
        new_docs, new_buckets = _sets_and_keys(
            sketch.localCheckpoint(eager=True), num_hashes, bands
        )

        # candidates within the batch (smaller doc_id wins) ...
        within = _band_pairs(new_buckets, new_buckets).filter(
            F.col("doc_a") > F.col("doc_b")
        )
        matches = _verify_jaccard(
            within, new_docs, new_docs, threshold_num, threshold_den
        )
        # ... and vs the retained store (sink read-back = state); only
        # COMMITTED epochs count — a crashed attempt's partial rows must
        # not produce self-matches on retry
        if done:
            try:
                store_buckets = committed_rows(sess, buckets_dir, done)
                store_docs = committed_rows(sess, docs_dir, done)
            except Exception:  # noqa: BLE001 - no store written yet
                pass
            else:
                matches = matches.unionByName(
                    _verify_jaccard(
                        _band_pairs(new_buckets, store_buckets),
                        new_docs, store_docs, threshold_num, threshold_den,
                    )
                )

        # one quarantine row per duplicate: smallest verified match,
        # reporting THAT pair's jaccard (a single min-struct keeps the
        # id and the similarity from the same verified pair)
        dups = (
            matches.groupBy(F.col("doc_a").alias("doc_id"))
            .agg(
                F.min(
                    F.struct(F.col("doc_b").alias("matched_id"), "jaccard")
                ).alias("m")
            )
            .select(
                "doc_id",
                F.col("m.matched_id").alias("matched_id"),
                F.col("m.jaccard").alias("matched_jaccard"),
            )
            .localCheckpoint(eager=True)
        )
        write_commit(dups, dups_dir, commit_id)

        keep_ids = new_docs.join(dups, "doc_id", "left_anti").select("doc_id")
        write_commit(new_docs.join(keep_ids, "doc_id"), docs_dir, commit_id)
        write_commit(
            new_buckets.join(keep_ids, "doc_id"), buckets_dir, commit_id
        )
        # ledger marker LAST: the commit exists only once all three
        # sinks are fully written
        (commits_dir / commit_id).touch()

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    done = committed()
    unique = committed_rows(spark, docs_dir, done).count()
    try:
        duplicate = committed_rows(spark, dups_dir, done).count()
    except Exception:  # noqa: BLE001 - no duplicates ever written
        duplicate = 0
    return {"unique": unique, "duplicate": duplicate}
