"""Distributed global ordering primitives.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY plans an
``Exchange SinglePartition`` — every row funnels through ONE task.
Fine for a 25-row per-nation aggregate; fatal for a per-customer or
per-document ranking at 100 TB.  These helpers compute the identical
values with a fully distributed plan:

1. ``repartitionByRange`` on the order keys (sampled range
   boundaries; partition *i* holds keys ≤ partition *i+1*) +
   ``sortWithinPartitions`` — one scalable shuffle, no single task.
2. ``monotonically_increasing_id`` over the sorted partitions: the
   id packs ``(partition_id << 33) | local_row_number`` (documented
   layout of the builtin), so the per-partition position comes free —
   no second exchange for a pid-window.
3. One prefix-offset core (``_prefix_totals``) serves every global
   rank and running sum: a per-partition row count plus one partial
   sum per value (a ~``numPartitions``-row aggregate) turns into
   cumulative offsets, prior-partition sums and grand totals with a
   window over that TINY frame — its cardinality is bounded by the
   cluster's partition count, not the data — broadcast-joined back
   and added to a local running window over ``_lpos``.
   :func:`global_row_number`, :func:`global_running_sum`,
   :func:`global_order_stats`, :func:`global_running_multi` and
   :func:`global_ntile` are projections of it;
   :func:`global_running_max` combines with ``max`` instead and
   :func:`grouped_row_number` offsets per group, both on the same
   ranged frame.

Running sums follow SQL's rule: NULL until the first non-NULL value,
then the sum of the non-NULL values so far.  The local and prior
parts combine as ``coalesce(prior + local, prior, local)``, with
``prior`` summed over strictly earlier partitions, so the answer does
not depend on where NULLs fall relative to the range boundaries.

The result is bit-identical to the single-partition window whenever
the order is a total order (unique tiebreaker — the registry-wide
determinism rule already requires one): global position is
independent of where the sampled range boundaries fall.  The ranged
frame is materialized once (``_stage``) so its two consumers — the
row join and the per-partition offset histogram — read the SAME
physical layout; ``_pid``/``_lpos`` are layout-derived, and exchange
reuse alone does not guarantee layout agreement under AQE (each
consumer coalesces its shuffle read independently; see
``_ranged_with_position``).

Staging cost — read this before ranking a billion-row table: each
helper call materializes its FULL ranged input once.  By default
(lazy ``localCheckpoint``) the blocks are pinned until session end and
lineage is truncated, so a long-lived session calling several helpers
pins several full-dataset copies, and an executor loss mid-job is
unrecoverable.  Long-lived sessions and preemptible clusters wrap
helper calls in :func:`idn_area_etl_spark.operators.stage.staged_scope`:
inside it the staged frames persist with recomputable lineage and are
unpersisted on exit (see :mod:`idn_area_etl_spark.operators.stage`).

Reference semantics: SQL window functions over a global ORDER BY
(reference engines run these single-node; this is the 1000-executor
re-expression).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_LOCAL_MASK = (1 << 33) - 1


def _num_range_partitions(df: DataFrame) -> int:
    """Explicit partition count for the range exchange (implicit
    counts additionally let AQE re-plan the layout; see
    :func:`_ranged_with_position` for why the layout must be stable).

    Some platforms set ``spark.sql.shuffle.partitions`` to a
    non-numeric value (e.g. ``"auto"`` under Databricks AQE auto-
    tuning); fall back to the cluster's default parallelism then."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def _ranged_with_position(
    df: DataFrame, order_cols: list[Column]
) -> DataFrame:
    """Range-partition + sort on ``order_cols`` and attach ``_pid``
    (range partition index) and ``_lpos`` (0-based position within the
    partition).

    The result is MATERIALIZED (``_stage``: lazy localCheckpoint, or
    persist inside a ``staged_scope``) because every helper here joins
    the row side back to a per-``_pid`` offset histogram derived from
    this same frame, and ``_pid``/
    ``_lpos`` come from ``monotonically_increasing_id`` — a function
    of the PHYSICAL partition layout at evaluation time.  Without
    pinning, the two consumers can evaluate the exchange under
    different layouts (AQE coalesces each consumer's shuffle read
    independently, and a non-reused exchange re-samples its range
    boundaries), so their ``_pid``/``_lpos`` spaces disagree and the
    inner join silently drops or misassigns rows.  Observed for real
    TWICE before pinning: ``d_vocab_growth`` at sf0.1 lost 5 of its 10
    deciles (driver-green at sf0.01 only because 500 docs coalesce to
    one partition on both sides), and with only an explicit partition
    count — no materialization — an 11th ntile appeared when the row
    side's layout drifted from the histogram's.  Same hazard and same
    cure as the row-id pinning in ``operators/pca.py``."""
    d = (
        df.repartitionByRange(_num_range_partitions(df), *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    from idn_area_etl_spark.operators.stage import _stage

    d = _stage(d)
    return d.withColumn(
        "_pid", F.shiftright("_mid", 33)
    ).withColumn("_lpos", F.col("_mid").bitwiseAND(F.lit(_LOCAL_MASK)))


def _prefix_totals(
    df: DataFrame,
    order_cols: list[Column],
    values: dict[str, Column],
    outputs: dict[str, Column],
) -> DataFrame:
    """The prefix-offset core every global rank and running sum reads.

    Returns ``df``'s columns plus ``outputs``, whose expressions read
    ``_rn`` (1-based global row number), ``_n_total`` (global row
    count) and, for each ``values`` key ``k``, ``_run_k`` (inclusive
    running sum) and ``_tot_k`` (grand total).  They come from:

    1. one per-``_pid`` aggregate — a row count plus one partial sum
       per value;
    2. one window over that (≤ numPartitions)-row histogram — the row
       offset, each value's sum over STRICTLY EARLIER partitions
       (``_prior_k``) and the grand totals.  The window is
       partition-less, but its input cardinality is bounded by the
       partition count: the one place a global window is always safe.
       It is broadcast-joined back on ``_pid``;
    3. one local running-sum window over ``_lpos``.

    The optimizer prunes what ``outputs`` does not read, so each
    public helper plans only the aggregates and windows it uses."""
    d = _ranged_with_position(df, order_cols)
    for k, v in values.items():
        d = d.withColumn(f"_v_{k}", v)
    per = d.groupBy("_pid").agg(
        F.count("*").alias("_n"),
        *[F.sum(f"_v_{k}").alias(f"_ps_{k}") for k in values],
    )
    w = Window.orderBy("_pid")
    earlier = w.rowsBetween(Window.unboundedPreceding, -1)
    every = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offs = per.select(
        "_pid",
        F.coalesce(F.sum("_n").over(earlier), F.lit(0)).alias("_offset"),
        F.sum("_n").over(every).alias("_n_total"),
        *[F.sum(f"_ps_{k}").over(earlier).alias(f"_prior_{k}")
          for k in values],
        *[F.sum(f"_ps_{k}").over(every).alias(f"_tot_{k}") for k in values],
    )
    lw = (
        Window.partitionBy("_pid")
        .orderBy("_lpos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = d.join(F.broadcast(offs), "_pid").withColumns(
        {
            "_rn": F.col("_offset") + F.col("_lpos") + 1,
            **{f"_local_{k}": F.sum(f"_v_{k}").over(lw) for k in values},
        }
    )
    runs = {}
    for k in values:
        prior, local = F.col(f"_prior_{k}"), F.col(f"_local_{k}")
        # SQL running sum: NULL until the first non-NULL value, wherever
        # the NULLs fall relative to the range partition boundaries
        runs[f"_run_{k}"] = F.coalesce(prior + local, prior, local)
    out = out.withColumns(runs).withColumns(outputs)
    keep = set(df.columns) | set(outputs)
    return out.drop(*[c for c in out.columns if c not in keep])


def global_row_number(
    df: DataFrame, order_cols: list[Column], out: str = "rn"
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_cols)`` without a
    single-partition sort.  ``order_cols`` must be a total order
    (include a unique tiebreaker) for a deterministic result."""
    return _prefix_totals(df, order_cols, {}, {out: F.col("_rn")})


def global_running_sum(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out: str = "running",
) -> DataFrame:
    """Inclusive ``sum(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)`` — local running sum within each range partition plus
    a broadcast per-partition prefix total."""
    return _prefix_totals(
        df, order_cols, {"v": value}, {out: F.col("_run_v")}
    )


def global_running_max(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out: str = "running_max",
    inclusive: bool = True,
) -> DataFrame:
    """``max(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING
    [AND 1 PRECEDING])`` — local running max within each range
    partition combined (via null-skipping ``greatest``) with the max
    of all preceding partitions.  ``inclusive=False`` gives the
    strictly-preceding frame (first global row → NULL, matching the
    window's empty-frame semantics)."""
    d = _ranged_with_position(df, order_cols).withColumn("_v", value)
    per = d.groupBy("_pid").agg(F.max("_v").alias("_pmax"))
    w_excl = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per.select(
        "_pid", F.max("_pmax").over(w_excl).alias("_prior")
    )
    lw = (
        Window.partitionBy("_pid")
        .orderBy("_lpos")
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return (
        d.join(F.broadcast(offs), "_pid")
        .withColumn(out, F.greatest(F.max("_v").over(lw), F.col("_prior")))
        .drop("_mid", "_pid", "_lpos", "_prior", "_v")
    )


def global_order_stats(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    rn_out: str = "rn",
    run_out: str = "running",
    count_out: str = "n_total",
    total_out: str = "v_total",
) -> DataFrame:
    """One-pass combination of :func:`global_row_number`,
    :func:`global_running_sum`, the global row count and the global
    value total — everything a Pareto / cumulative-share query needs,
    from a single range shuffle (the per-partition histogram carries
    counts, partial sums, and grand totals together)."""
    return _prefix_totals(
        df,
        order_cols,
        {"v": value},
        {
            rn_out: F.col("_rn"),
            run_out: F.col("_run_v"),
            count_out: F.col("_n_total"),
            total_out: F.col("_tot_v"),
        },
    )


def grouped_row_number(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    out: str = "rn",
    count_out: str | None = None,
) -> DataFrame:
    """``row_number() OVER (PARTITION BY partition_cols ORDER BY
    order_cols)`` for LOW-CARDINALITY, HIGH-VOLUME groups (e.g. ~5
    languages over billions of docs), where a plain partitioned window
    would funnel each giant group through one task.

    Range-partitions on ``(partition_cols, order_cols)`` so a huge
    group spans several consecutive range partitions, takes the local
    rank within ``(range partition, group)`` (one balanced hash
    exchange), and adds per-group offsets from the tiny
    ``(#groups × #partitions)`` histogram.  ``count_out`` optionally
    emits the per-group total row count."""
    d = _ranged_with_position(
        df, [*[F.col(c) for c in partition_cols], *order_cols]
    )
    lw = Window.partitionBy("_pid", *partition_cols).orderBy("_lpos")
    local = d.withColumn("_lrn", F.row_number().over(lw))
    hist = local.groupBy("_pid", *partition_cols).agg(
        F.count("*").alias("_n")
    )
    hw = (
        Window.partitionBy(*partition_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hwall = (
        Window.partitionBy(*partition_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offs = hist.select(
        "_pid",
        *partition_cols,
        (F.sum("_n").over(hw) - F.col("_n")).alias("_offset"),
        F.sum("_n").over(hwall).alias("_gtotal"),
    )
    res = local.join(
        F.broadcast(offs), ["_pid", *partition_cols]
    ).withColumn(out, F.col("_offset") + F.col("_lrn"))
    if count_out is not None:
        res = res.withColumn(count_out, F.col("_gtotal"))
    return res.drop("_mid", "_pid", "_lpos", "_lrn", "_offset", "_gtotal")


def global_running_multi(
    df: DataFrame,
    order_cols: list[Column],
    values: dict[str, Column],
    run_prefix: str = "cum_",
    total_prefix: str = "tot_",
) -> DataFrame:
    """Inclusive global running sums AND grand totals for SEVERAL
    value columns in one range shuffle (e.g. the two empirical CDFs a
    KS statistic compares)."""
    outputs = {}
    for k in values:
        outputs[f"{run_prefix}{k}"] = F.col(f"_run_{k}")
        outputs[f"{total_prefix}{k}"] = F.col(f"_tot_{k}")
    return _prefix_totals(df, order_cols, values, outputs)


def discrete_quantiles(
    df: DataFrame,
    col: Column,
    qs: list[tuple[int, int]],
    prefix: str = "t",
) -> DataFrame:
    """One-row frame of DISCRETE global quantiles of ``col``: column
    ``{prefix}{i}`` holds the stored element at rank ⌈qᵢ·n⌉ for
    ``qs[i] = (num, den)`` (the quantile as an exact integer
    fraction — ranks are computed in integer arithmetic, never via a
    float multiply).

    This is the engine's replacement for emitting or thresholding on
    interpolated percentiles (r7, the ``a_quantile_sketch`` red-row
    class): Spark ``percentile`` and DuckDB ``quantile_cont``
    interpolate with different formulas, so a 1-ulp engine divergence
    near a rounding boundary can flip an emitted digit — or, for
    rounded THRESHOLDS, flip the bucket of any stored value that
    lands between the two engines' rounded variants.  A stored
    element is bit-identical in both engines with zero arithmetic.

    Scale: one shuffle to the distinct-value rollup, then
    :func:`global_running_multi` running counts (range-partitioned,
    no single-task window) and a global min-per-target aggregate.
    """
    rolled = df.select(col.alias("_v")).groupBy("_v").agg(
        F.count("*").alias("_cnt")
    )
    run = global_running_multi(rolled, [F.col("_v")], {"c": F.col("_cnt")})
    lo = F.col("cum_c") - F.col("_cnt")
    aggs = []
    for i, (num, den) in enumerate(qs):
        rank = F.expr(f"({num} * tot_c + {den} - 1) div {den}")
        aggs.append(
            F.min(
                F.when((lo < rank) & (rank <= F.col("cum_c")), F.col("_v"))
            ).alias(f"{prefix}{i}")
        )
    return run.agg(*aggs)


def grouped_running_multi(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    values: dict[str, Column],
    run_prefix: str = "grun_",
    total_prefix: str = "gtot_",
) -> DataFrame:
    """PER-GROUP inclusive running sums and per-group totals — the
    distributed replacement for ``Window.partitionBy(fixed_domain_key)``
    running aggregates (r7, the window-funnel gate's fix pattern).

    A plain per-group window shuffles EVERY row of a group to one
    task: fine when the group key is a data-scaled entity (user,
    order) with bounded per-group rows, fatal when the key has a
    small FIXED domain (return flag, nation, segment, language) so
    each group holds a data-scaled share of the table.  This computes
    the identical values from one range shuffle: global running sums
    ordered by ``(group, order)`` (:func:`global_running_multi`),
    minus each group's prior offset — a window over the per-group
    totals frame, whose cardinality is the GROUP DOMAIN (3 flags, 25
    nations, ...), not the data.

    Boundedness contract: ``group_cols`` must have a fixed
    (schema/taxonomy) domain — that is exactly the regime where the
    plain per-group window funnels.  For data-scaled entity keys keep
    the plain window (bounded per-group rows; scalable group count).
    Result equality needs ``group_cols + order_cols`` to be a total
    order (the registry-wide unique-tiebreaker rule).

    NULL values: as in the window, a group's running sum is NULL
    before its first non-NULL value, and throughout an all-NULL group.

    NULL group keys: the offsets frame joins back on ``group_cols``
    with an EQUI join, so rows whose group key is NULL are DROPPED
    (a plain ``partitionBy`` window would keep them as their own
    group).  Callers must pre-filter or coalesce NULL keys — raising
    here would cost a pass over the data, and every fixed-domain
    taxonomy this primitive exists for is non-null by construction.
    """
    # The global running sum already carries the earlier groups'
    # totals, so telling a group's leading NULLs from a zero sum takes
    # a running count of its non-NULL values: one more value per column.
    counted = {
        **values,
        **{f"_nn_{k}": v.isNotNull().cast("long") for k, v in values.items()},
    }
    reserved = (
        [f"{run_prefix}{k}" for k in values]
        + [f"{total_prefix}{k}" for k in values]
        + [f"{p}{k}" for p in ("_gcum_", "_gprior_", "_gt_", "tot_")
           for k in counted]
    )
    clash = [c for c in reserved if c in df.columns]
    if clash:
        # loud failure over silent clobber (mirrors grouped_topk):
        # pre-existing grun_/gtot_/tot_/_gcum_ columns would be
        # overwritten or dropped by the internal bookkeeping
        raise ValueError(
            f"grouped_running_multi internal/output columns {clash} "
            "already exist on the input frame; rename them or pass "
            "different run_prefix/total_prefix"
        )
    gcols = [F.col(c) for c in group_cols]
    g = global_running_multi(
        df, gcols + list(order_cols), counted, run_prefix="_gcum_"
    )
    tot = df.groupBy(*group_cols).agg(
        *[F.sum(v).alias(f"_gt_{k}") for k, v in counted.items()]
    )
    wprior = Window.orderBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = tot.select(
        *group_cols,
        *[
            F.coalesce(F.sum(f"_gt_{k}").over(wprior), F.lit(0)).alias(
                f"_gprior_{k}"
            )
            for k in counted
        ],
        *[F.col(f"_gt_{k}").alias(f"{total_prefix}{k}") for k in values],
    )
    out = g.join(F.broadcast(offs), list(group_cols))
    for k in values:
        seen = F.col(f"_gcum__nn_{k}") > F.col(f"_gprior__nn_{k}")
        out = out.withColumn(
            f"{run_prefix}{k}",
            F.when(seen, F.col(f"_gcum_{k}") - F.col(f"_gprior_{k}")),
        )
    drop = []
    for k in counted:
        # _gcum_/_gprior_ are the internal pieces; tot_ is the GLOBAL
        # total global_running_multi emits (callers get gtot_ instead)
        drop += [f"_gcum_{k}", f"_gprior_{k}", f"tot_{k}"]
    return out.drop(*[c for c in drop if c in out.columns])


def grouped_topk(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[Column],
    k: int,
    salt_key: Column,
    out: str = "rnk",
) -> DataFrame:
    """``row_number() <= k`` per group WITHOUT funneling each group's
    full candidate set through one window task.

    A plain ``Window.partitionBy(group)`` top-k shuffles every
    candidate row of a group to a single task — fine for bounded
    groups, fatal when the group is "one query × the whole corpus"
    (the ANN probe pattern: 200 probes over 10^12 candidates = 200
    tasks each streaming 10^12 rows).  This computes the IDENTICAL
    result in two bounded phases:

    1. salt each row by a hash of its unique tiebreaker into
       ``numShufflePartitions`` buckets and take the top-k within
       ``(group, salt)`` — parallelism is groups × buckets, and every
       global top-k row survives (fewer than k rows of its own group
       beat it anywhere, so fewer than k beat it in its bucket);
    2. exact top-k over the ≤ buckets·k survivors per group.

    Result equality needs ``order_cols`` to be a total order within a
    group (unique tiebreaker — the registry-wide determinism rule);
    the salt is data-derived (hash of ``salt_key``), so plans stay
    deterministic under any layout.
    """
    clash = [c for c in ("_salt", "_lrk", out) if c in df.columns]
    if clash:
        # loud failure over silent clobber (the repo-wide convention):
        # withColumn would overwrite an existing column of the same
        # name and corrupt the ranking
        raise ValueError(
            f"grouped_topk intermediate/output columns {clash} already "
            "exist on the input frame; rename them or pass a different "
            "out="
        )
    n = _num_range_partitions(df)
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_key), F.lit(n))
    )
    w1 = Window.partitionBy(*part_cols, "_salt").orderBy(*order_cols)
    pruned = (
        salted.withColumn("_lrk", F.row_number().over(w1))
        .filter(F.col("_lrk") <= k)
        .drop("_lrk", "_salt")
    )
    w2 = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return pruned.withColumn(out, F.row_number().over(w2)).filter(
        F.col(out) <= k
    )


def global_ntile(
    df: DataFrame, order_cols: list[Column], k: int, out: str = "tile"
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY order_cols)`` from the distributed
    row number: with N rows the first ``N % k`` tiles hold
    ``N//k + 1`` rows and the rest ``N//k`` (the SQL ntile contract).
    """
    rn = F.col("_rn")
    n = F.col("_n_total")
    q = F.floor(n / k)
    r = n % k
    big = r * (q + 1)  # rows covered by the (q+1)-sized tiles
    tile = F.when(
        rn <= big, F.ceil(rn / (q + 1))
    ).otherwise(r + F.ceil((rn - big) / q))
    return _prefix_totals(df, order_cols, {}, {out: tile.cast("int")})
