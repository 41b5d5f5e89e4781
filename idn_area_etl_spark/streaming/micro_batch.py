"""Structured-Streaming expression of the reference's chunk loop.

The reference processes a PDF as a bounded stream of page chunks with
run-global state (SURVEY.md §2.9): writers stay open across chunks,
and ``_seen_provinces`` dedups provinces across the whole run
(extractors.py:110-112).  Spark equivalents:

- **micro-batch executor**: ``readStream`` over the long-form raw
  rows + ``foreachBatch`` running the same batch extraction dataflow
  per chunk, appending to per-entity parquet sinks
  (``Trigger.AvailableNow`` ≙ "drain the bounded input").
- **cross-batch first-seen state**: the province sink itself is the
  state — each batch anti-joins the already-written codes before
  appending (exactly the semantics of the reference's in-memory set,
  but restart-safe because the state lives in the sink).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from idn_area_etl_spark.operators.registry import entity_frames, extract_all
from idn_area_etl_spark.operators.stage import _stage, staged_scope
from idn_area_etl_spark.sources.raw import RAW_TABLE_SCHEMA

ENTITIES = ["province", "regency", "district", "village", "island"]


def run_micro_batch_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str | None = None,
) -> dict[str, int]:
    """Drain a bounded raw-rows stream through the extraction dataflow.

    ``input_path``: directory of parquet files with RAW_TABLE_SCHEMA —
    each arriving file plays the role of one page-chunk.  Entity
    outputs land under ``output_path/<entity>`` as append-mode parquet.
    Returns final per-entity row counts.
    """
    out_dir = Path(output_path)
    out_dir.mkdir(parents=True, exist_ok=True)
    checkpoint = checkpoint_path or str(out_dir / "_checkpoint")

    stream = (
        spark.readStream.schema(RAW_TABLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one chunk per micro-batch
        .parquet(input_path)
    )

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        # the four area levels are filters of one area frame: staged,
        # the batch is routed, cleaned and classified once, not per level
        with staged_scope():
            extracted = extract_all(batch)
            entities = entity_frames({**extracted, "area": _stage(extracted["area"])})
            for name in ENTITIES:
                df = entities[name]
                target = str(out_dir / name)
                if name == "province":
                    # cross-batch first-seen: codes already in the sink win
                    # (reference _seen_provinces semantics, restart-safe)
                    try:
                        seen = batch.sparkSession.read.parquet(target).select("code")
                        df = df.join(seen, "code", "left_anti")
                    except Exception:  # noqa: BLE001 - sink not created yet
                        pass
                df.write.mode("append").parquet(target)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    counts: dict[str, int] = {}
    for name in ENTITIES:
        target = str(out_dir / name)
        try:
            counts[name] = spark.read.parquet(target).count()
        except Exception:  # noqa: BLE001 - zero-output entity
            counts[name] = 0
    return counts
