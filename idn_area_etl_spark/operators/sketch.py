"""Count-min sketch: sublinear-memory frequency estimation.

A CMS is a ``d × w`` grid of counters; each key increments one
counter per hash row, and its frequency estimate is the **min** over
its ``d`` counters — always an overestimate, with error bounded by
collisions (≈ n/w per row).  At 100 TB the sketch (``d·w`` cells) is
a map-side-combinable aggregation output small enough to broadcast,
replacing a full groupBy of an unbounded key space.

Hashes derive from md5 (not a JVM-private hash), so the DuckDB oracle
reproduces the sketch bit-for-bit — same trick as the wave-5/7
deterministic samplers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_bucket(col: Column, salt: str, buckets: int) -> Column:
    """Deterministic bucket in [0, buckets) from a salted md5."""
    v = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 13),
        16,
        10,
    ).cast("long")
    return v % buckets


def count_min_topk(
    df: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 64,
    top_k: int = 20,
) -> DataFrame:
    """Top-k keys by CMS-estimated frequency, with the exact count
    alongside (est ≥ exact always; equality when the key's min-counter
    row is collision-free).

    Scale: the sketch build is one groupBy over ``d·w`` cells; the
    estimate probe joins each distinct key's ``d`` cells against the
    tiny sketch (broadcast).  The exact-count column here is for
    verification and would be dropped at real scale — the sketch is
    the point.
    """
    key = F.col(key_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(h).alias("h"),
                md5_bucket(key, f"cms{h}:", w).alias("bucket"),
            )
            for h in range(d)
        ]
    )
    long = df.select(key.alias("key"), F.explode(cells).alias("hb")).select(
        "key", F.col("hb.h").alias("h"), F.col("hb.bucket").alias("bucket")
    )
    # r9-opt (guide §2.3/§2.4): ONE (key, h, bucket) rollup now feeds
    # the sketch (sum of per-key cell counts = the cell count), the
    # distinct key-cell probe (the rollup rows ARE the distinct
    # cells), and the exact count (each row contributes exactly one
    # cell per hash row, so the h=0 slice counts rows per key) —
    # the previous shape ran three independent passes over the
    # exploded stream (2 duplicate source scans).  Staged: the rollup
    # is distinct-keys × d rows.
    from idn_area_etl_spark.operators.stage import _stage

    kc = _stage(
        long.groupBy("key", "h", "bucket").agg(F.count("*").alias("c"))
    )
    sketch = kc.groupBy("h", "bucket").agg(F.sum("c").alias("cnt"))
    key_cells = kc.select("key", "h", "bucket")
    est = (
        key_cells.join(F.broadcast(sketch), ["h", "bucket"])
        .groupBy("key")
        .agg(F.min("cnt").alias("est_count"))
    )
    exact = (
        kc.filter(F.col("h") == 0)
        .groupBy("key")
        .agg(F.sum("c").alias("exact_count"))
    )
    return (
        est.join(exact, "key")
        .select(
            F.col("key").alias(key_col),
            "est_count",
            "exact_count",
        )
        .orderBy(F.col("est_count").desc(), key_col)
        .limit(top_k)
    )
