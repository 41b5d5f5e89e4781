"""Batch curation CLI: the LLM training-data pipeline as one command.

``idnareaetl-curate IN_PARQUET OUT_DIR [--mode exact|fuzzy] ...``
runs the standard corpus-curation recipe over a documents table
(``doc_id`` long, ``text`` string, anything else carried through):

1. quality filter (`operators/text.py:quality_score_expr`),
2. dedup — exact content-hash groups, or the 100 TB fuzzy recipe
   (MinHash-LSH candidates → exact Jaccard verify,
   `operators/dedup.py:minhash_verified_pairs`) with first-seen-wins
   representative selection,
3. deterministic hash split (train/val/test),
4. partitioned parquet output (by split) plus a JSON stats line on
   stdout.

This is the batch twin of ``streaming/fuzzy_dedup.py`` and the CLI
face of the ``p_curation_pipeline`` spec; every step is the same
tested operator the query surface uses.  Scale shape: one
content-hash shuffle (exact) or the banded-LSH equi-joins (fuzzy) —
no cross products, no driver-side loops.

Every expression is SQL text over column names (the quality score,
the split bucket of :func:`split_sql`, the MinHash sketch, band keys
and verify of ``operators/dedup.py``), parsed by the JVM in one call
each, so building the fuzzy plan costs under two hundred py4j
round-trips rather than one or more per expression node.  The stats
line's counts are observed on the partitioned write itself
(``count_if`` per split), so nothing is read back.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


#: the split names, in the order of their bucket ranges
SPLITS = ("train", "val", "test")


def split_sql(doc_id: str, train_pct: int, val_pct: int) -> str:
    """SQL text of the deterministic split of column ``doc_id``: its
    hash bucket in 0..99 (the first 13 hex digits of
    ``md5('split:' || doc_id)``, mod 100) picks 'train' below
    ``train_pct``, 'val' below ``train_pct + val_pct``, else 'test'."""
    bucket = (
        f"CAST(conv(substring(md5(concat('split:', CAST({doc_id} AS STRING))), 1, 13),"
        " 16, 10) AS BIGINT) % 100"
    )
    return (
        f"CASE WHEN {bucket} < {train_pct} THEN 'train'"
        f" WHEN {bucket} < {train_pct + val_pct} THEN 'val' ELSE 'test' END"
    )


def curate(
    docs: DataFrame,
    mode: str = "exact",
    quality_min: float = 0.0,
    threshold_num: int = 3,
    threshold_den: int = 5,
    train_pct: int = 80,
    val_pct: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Curated documents with ``split`` column; duplicates and
    low-quality rows removed.  Pure DataFrame-in/DataFrame-out so it
    composes (and is what the CLI and tests call)."""
    from idn_area_etl_spark.operators.dedup import minhash_verified_pairs
    from idn_area_etl_spark.operators.text import quality_score_expr

    scored = docs.withColumn("_q", quality_score_expr(text_col)).where(
        f"_q >= {float(quality_min)!r}D"
    )

    if mode == "exact":
        # min doc_id per content hash: map-side combinable, no window
        rep = (
            scored.groupBy(F.expr(f"md5({text_col}) AS _h"))
            .agg(F.expr("min(doc_id) AS doc_id"))
            .select("doc_id")
        )
        kept = scored.join(rep, "doc_id", "left_semi")
    elif mode == "fuzzy":
        # greedy first-seen-wins over verified near-dup pairs: a doc
        # is dropped iff it verifies against ANY smaller-id doc
        # (pairs come back as doc_a < doc_b)
        pairs = minhash_verified_pairs(
            scored, threshold_num, threshold_den, text_col=text_col
        )
        dup_ids = pairs.selectExpr("doc_b AS doc_id").distinct()
        kept = scored.join(dup_ids, "doc_id", "left_anti")
    else:  # pragma: no cover - argparse restricts choices
        raise ValueError(f"unknown mode {mode!r}")

    split = split_sql("doc_id", train_pct, val_pct)
    return kept.drop("_q").withColumn("split", F.expr(split))


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="idnareaetl-curate",
        description="Quality-filter, dedup, and split a documents table.",
    )
    parser.add_argument("input", help="input parquet path (documents table)")
    parser.add_argument("output", help="output directory")
    parser.add_argument(
        "--mode", choices=["exact", "fuzzy"], default="exact",
        help="dedup strategy (fuzzy = MinHash-LSH + exact verify)",
    )
    parser.add_argument("--quality-min", type=float, default=0.0)
    parser.add_argument(
        "--threshold", default="3/5",
        help="fuzzy Jaccard threshold as NUM/DEN (exact integers)",
    )
    parser.add_argument("--train-pct", type=int, default=80)
    parser.add_argument("--val-pct", type=int, default=10)
    args = parser.parse_args(argv)

    try:
        num, den = (int(x) for x in args.threshold.split("/", 1))
    except ValueError:
        parser.error(f"--threshold must be NUM/DEN integers, got {args.threshold!r}")
    if den <= 0 or not 0 <= num <= den:
        parser.error(f"--threshold needs DEN > 0 and 0 <= NUM <= DEN, got {num}/{den}")
    for flag, pct in (("--train-pct", args.train_pct), ("--val-pct", args.val_pct)):
        if not 0 <= pct <= 100:
            parser.error(f"{flag} must be in 0..100, got {pct}")
    if args.train_pct + args.val_pct > 100:
        parser.error("--train-pct + --val-pct must not exceed 100")

    from idn_area_etl_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark(
        app_name="idnareaetl-curate"
    )
    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    curated = curate(
        docs,
        mode=args.mode,
        quality_min=args.quality_min,
        threshold_num=num,
        threshold_den=den,
        train_pct=args.train_pct,
        val_pct=args.val_pct,
    )
    # the per-split counts ride on the write's own job; a split with no
    # rows writes no directory and is left out, and the largest split
    # comes first (the order a read-back of the output lists them in)
    written = Observation()
    curated.observe(
        written, *[F.expr(f"count_if(split = '{s}') AS {s}") for s in SPLITS]
    ).write.mode("overwrite").partitionBy("split").parquet(args.output)
    counts = sorted(written.get.items(), key=lambda kv: -kv[1])
    by_split = {s: n for s, n in counts if n}
    n_kept = sum(by_split.values())
    print(
        json.dumps(
            {
                "input_docs": n_in,
                "kept": n_kept,
                "removed": n_in - n_kept,
                "splits": by_split,
                "mode": args.mode,
            }
        )
    )
    return 0 if n_kept > 0 else 1


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
