"""Distributed global-ordering primitives == their single-partition
window equivalents, bit for bit, on data spread over many partitions.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import (
    global_ntile,
    global_order_stats,
    global_row_number,
    global_running_max,
    global_running_multi,
    global_running_sum,
    grouped_row_number,
    grouped_topk,
)


def _df(spark, n=5000):
    # non-trivial value distribution with duplicates in `v`; `id` is
    # the unique tiebreaker
    return (
        spark.range(n)
        .repartition(16)
        .select(
            "id",
            (F.xxhash64("id") % 97).alias("v"),
        )
    )


def _null_runs_df(spark, n=4000):
    """``v`` is NULL on a leading run and on a run of 1,500 rows in the
    middle of the ``(k, id)`` order.  At 8 range partitions (~500 rows
    each) the first partition starts with NULLs before any value, the
    middle run spans at least one all-NULL partition, and a partition
    starts with NULLs after earlier values — the cases where a running
    sum must carry the prior total, or stay NULL, across partitions
    (checked by ``test_null_runs_input_covers_partition_edges``)."""
    null = (F.col("id") < 60) | F.col("id").between(1000, 2499)
    return (
        spark.range(n)
        .repartition(16)
        .select(
            (F.col("id") / 3).cast("long").alias("k"),
            "id",
            F.when(null, None).otherwise(F.xxhash64("id") % 97).alias("v"),
        )
    )


def _spread_df(spark, n=5000):
    return _df(spark, n).withColumn("k", F.col("v"))


# (name, input frame with order key `k`, tiebreaker `id` and value `v`,
# range partitions or None for the session default)
_INPUTS = [
    ("spread", _spread_df, None),
    ("null_runs", _null_runs_df, 8),
]


def _order():
    return [F.col("k").asc(), F.col("id").asc()]


@contextmanager
def _shuffle_partitions(spark, n):
    """``spark.sql.shuffle.partitions`` (the helpers' range partition
    count) set to ``n`` for the block and restored after it."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    if n is not None:
        spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def _by_id(df, *cols):
    return {r["id"]: tuple(r[c] for c in cols) for r in df.collect()}


def _assert_matches_window(spark, helper, window, cols, inputs=_INPUTS):
    """On every input, ``helper(df)`` and the single-partition
    ``window(df, w)`` (``w`` = ORDER BY k, id) agree on ``cols`` for
    every row."""
    w = Window.orderBy("k", "id")
    for name, build, parts in inputs:
        with _shuffle_partitions(spark, parts):
            df = build(spark)
            got = _by_id(helper(df), *cols)
            exp = _by_id(window(df, w), *cols)
        assert got == exp, f"{name}: helper differs from the window"


def _upto(w, end=Window.currentRow):
    return w.rowsBetween(Window.unboundedPreceding, end)


def _whole(w):
    return w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)


def test_null_runs_input_covers_partition_edges(spark):
    """The NULL-run input really puts NULLs at range partition edges
    (the layout is read from the same ranged frame the helpers use)."""
    from idn_area_etl_spark.operators.ranks import _ranged_with_position

    with _shuffle_partitions(spark, 8):
        d = _ranged_with_position(_null_runs_df(spark), _order())
        per = {
            r["_pid"]: r
            for r in d.groupBy("_pid")
            .agg(
                F.count("v").alias("nonnull"),
                F.min_by("v", "_lpos").alias("first_v"),
            )
            .collect()
        }
    first = min(per)
    assert per[first]["first_v"] is None
    assert any(r["nonnull"] == 0 for r in per.values()), "no all-NULL part"
    assert any(
        p != first and r["first_v"] is None and r["nonnull"] > 0
        for p, r in per.items()
    ), "no partition starts with NULLs before its values"


def test_global_row_number_matches_window(spark):
    _assert_matches_window(
        spark,
        lambda df: global_row_number(df, _order(), out="rn"),
        lambda df, w: df.withColumn("rn", F.row_number().over(w)),
        ["rn"],
    )


def test_global_row_number_desc_order(spark):
    df = _df(spark, 1777)
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, order, out="rn").collect()
    }
    exp = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("v"), F.asc("id"))),
        ).collect()
    }
    assert got == exp


def test_global_running_sum_matches_window(spark):
    _assert_matches_window(
        spark,
        lambda df: global_running_sum(df, _order(), F.col("v"), out="run"),
        lambda df, w: df.withColumn("run", F.sum("v").over(_upto(w))),
        ["run"],
    )


@pytest.mark.parametrize("inclusive", [True, False])
def test_global_running_max_matches_window(spark, inclusive):
    end = Window.currentRow if inclusive else -1
    _assert_matches_window(
        spark,
        lambda df: global_running_max(
            df, _order(), F.col("v"), out="mx", inclusive=inclusive
        ),
        lambda df, w: df.withColumn("mx", F.max("v").over(_upto(w, end))),
        ["mx"],
    )


def test_global_order_stats_matches_window(spark):
    _assert_matches_window(
        spark,
        lambda df: global_order_stats(df, _order(), F.col("v")),
        lambda df, w: df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(_upto(w)).alias("running"),
            F.count("*").over(_whole(w)).alias("n_total"),
            F.sum("v").over(_whole(w)).alias("v_total"),
        ),
        ["rn", "running", "n_total", "v_total"],
    )


def test_global_running_multi_matches_window(spark):
    odd = F.when(F.col("id") % 2 == 1, F.col("v") * 2)
    _assert_matches_window(
        spark,
        lambda df: global_running_multi(
            df, _order(), {"v": F.col("v"), "odd": odd}
        ),
        lambda df, w: df.select(
            "id",
            F.sum("v").over(_upto(w)).alias("cum_v"),
            F.sum(odd).over(_upto(w)).alias("cum_odd"),
            F.sum("v").over(_whole(w)).alias("tot_v"),
            F.sum(odd).over(_whole(w)).alias("tot_odd"),
        ),
        ["cum_v", "cum_odd", "tot_v", "tot_odd"],
    )


def test_global_ntile_matches_window(spark):
    # small inputs make N % k == 0, N % k != 0 and N < k all occur
    small = [(f"n={n}", lambda s, n=n: _spread_df(s, n), None)
             for n in (103, 96, 6)]
    for k in (7, 10, 4):
        _assert_matches_window(
            spark,
            lambda df: global_ntile(df, _order(), k, out="t"),
            lambda df, w: df.withColumn("t", F.ntile(k).over(w)),
            ["t"],
            _INPUTS + small,
        )


def test_grouped_row_number_matches_window(spark):
    g = F.col("id") % 3
    _assert_matches_window(
        spark,
        lambda df: grouped_row_number(
            df.withColumn("g", g), ["g"], _order(), count_out="n"
        ),
        lambda df, w: df.select(
            "id",
            F.row_number().over(w.partitionBy(g)).alias("rn"),
            F.count("*").over(Window.partitionBy(g)).alias("n"),
        ),
        ["rn", "n"],
    )


def test_global_row_number_plan_no_full_data_single_partition(spark):
    df = _df(spark)
    r = global_row_number(df, [F.col("v").asc(), F.col("id").asc()])
    r.collect()
    plan = r._jdf.queryExecution().executedPlan().toString()
    # the row-bearing path reads the staged range-partitioned frame
    # (the range exchange lives inside the staged lineage); the only
    # SinglePartition exchanges feed the two windows over the
    # per-partition count histogram (≤ numPartitions rows)
    assert "ExistingRDD" in plan or "InMemoryTableScan" in plan
    assert plan.count("SinglePartition") <= 2


def test_pid_spaces_consistent_under_aqe_coalescing(spark, sf01_dir):
    """Regression for a silent row-loss bug: the offsets histogram and
    the row join both derive ``_pid`` from the physical partition
    layout, and with an IMPLICIT partition count AQE may coalesce the
    range exchange's two consumers differently, making their ``_pid``
    spaces disagree — the inner join then drops rows.  Only triggered
    by parquet-scan-fed plans with multiple downstream aggregations
    (synthetic in-memory frames coalesce consistently): d_vocab_growth
    at sf0.1 lost 5 of its 10 deciles.  The fix pins an explicit
    partition count (exempt from AQE coalescing)."""
    sf_dir = sf01_dir
    from idn_area_etl_spark.plans.wave48 import d_vocab_growth
    from idn_area_etl_spark.sources.tables import load_table

    rows = d_vocab_growth(spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    cums = [r["cum_tokens"] for r in rows]
    assert cums == sorted(cums) and len(set(cums)) == 10
    # the final cumulative token count must equal an independent total
    docs = load_table(spark, sf_dir, "documents")
    total = docs.select(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).cast("long")
        )
    ).collect()[0][0]
    assert cums[-1] == total


def test_offset_histogram_reads_staged_layout(spark):
    """The offset-histogram branch MUST see the same physical layout
    as the row branch.  Exchange reuse is NOT enough (AQE coalesces
    each consumer's shuffle read independently), so the ranged frame
    is staged (lineage-pinning materialization) — this pins that both
    branches read the staged scan, not live exchanges."""
    from pyspark.sql import functions as F

    df = (
        spark.range(50000)
        .repartition(8)
        .select("id", (F.xxhash64("id") % 997).alias("v"))
    )
    r = global_row_number(df, [F.col("v").asc(), F.col("id").asc()], "rn")
    r.collect()
    plan = r._jdf.queryExecution().executedPlan().toString()
    # both consumers read the materialized ranged frame: the staged
    # scan appears (localCheckpoint default → Scan ExistingRDD), and
    # no live range exchange remains in the executed plan
    assert "ExistingRDD" in plan or "InMemoryTableScan" in plan
    assert "rangepartitioning" not in plan.lower()


# --------------------------------------------------------------------------
# staged_scope: mechanical release of staged blocks (round 5).
# --------------------------------------------------------------------------


def _stored_rdd_ids(spark) -> set[int]:
    """Ids of RDDs with blocks currently stored on executors."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id() for info in infos}


def test_staged_scope_releases_blocks_and_restores_conf(spark):
    """Inside a staged_scope the rank helper's staged frame holds
    stored blocks; on exit they are unpersisted — so long-lived
    sessions don't accumulate pinned full-data copies.  Results
    computed inside the scope stay correct, and the same helper re-run
    after the scope (default localCheckpoint mode) still matches."""
    from idn_area_etl_spark.operators.stage import staged_scope

    df = _df(spark, 2000)
    expected = [
        (r.id, r.rn)
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy("v", "id"))
            .alias("rn"),
        ).collect()
    ]
    before = _stored_rdd_ids(spark)
    with staged_scope():
        got = [
            (r.id, r.rn)
            for r in global_row_number(df, [F.col("v"), F.col("id")])
            .select("id", "rn")
            .collect()
        ]
        during = _stored_rdd_ids(spark)
        assert during - before, "scope ran without storing staged blocks"
    after = _stored_rdd_ids(spark)
    assert after - before == set(), f"leaked staged blocks: {after - before}"
    assert sorted(got) == sorted(expected)
    # default mode still works after the scope
    re_got = [
        (r.id, r.rn)
        for r in global_row_number(df, [F.col("v"), F.col("id")])
        .select("id", "rn")
        .collect()
    ]
    assert sorted(re_got) == sorted(expected)


def test_staged_scope_nests_and_releases_per_scope(spark):
    """Each scope releases only its own frames; the outer scope's
    staged blocks survive an inner scope's exit."""
    from idn_area_etl_spark.operators.stage import staged_scope

    df = _df(spark, 1000)
    before = _stored_rdd_ids(spark)
    with staged_scope():
        global_row_number(df, [F.col("v"), F.col("id")]).count()
        outer = _stored_rdd_ids(spark) - before
        assert outer
        with staged_scope():
            global_row_number(
                df.limit(500), [F.col("v"), F.col("id")]
            ).count()
        # inner released, outer still stored
        assert outer <= _stored_rdd_ids(spark)
    assert _stored_rdd_ids(spark) - before == set()


def test_grouped_topk_matches_single_window(spark):
    """The two-phase salted top-k (r6, the ANN probe-ranking shape)
    equals the plain per-group window top-k row for row — including
    duplicate order values resolved by the unique tiebreaker — on
    data spread over many partitions, for several k."""
    df = (
        spark.range(20_000)
        .repartition(16)
        .select(
            (F.col("id") % 37).alias("g"),
            "id",
            (F.xxhash64("id") % 13).alias("v"),
        )
    )
    order = [F.col("v").desc(), F.col("id").asc()]
    for k in (1, 3, 20):
        got = sorted(
            (r["g"], r["id"], r["rnk"])
            for r in grouped_topk(
                df, ["g"], order, k, salt_key=F.col("id")
            ).collect()
        )
        w = Window.partitionBy("g").orderBy(F.desc("v"), F.col("id"))
        exp = sorted(
            (r["g"], r["id"], r["rnk"])
            for r in df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .collect()
        )
        assert got == exp, f"k={k}"


def test_staged_scope_is_thread_local(spark):
    """Two driver threads holding scopes CONCURRENTLY each release only
    their own staged frames — the scope stack is thread-local (r6;
    previously documented as a not-thread-safe boundary).  Thread B
    opens a scope and stages, then blocks; the main thread opens and
    exits its own scope in the meantime; B's staged blocks must survive
    the main scope's exit, and B's own exit must release them."""
    import threading

    from idn_area_etl_spark.operators.stage import staged_scope

    df_b = _df(spark, 1200)
    df_a = _df(spark, 800)
    entered = threading.Event()
    release = threading.Event()
    b_state: dict = {}

    def worker():
        with staged_scope():
            got = global_row_number(df_b, [F.col("v"), F.col("id")])
            b_state["rows"] = sorted(
                (r.id, r.rn) for r in got.select("id", "rn").collect()
            )
            b_state["during"] = _stored_rdd_ids(spark)
            entered.set()
            release.wait(120)
        b_state["after"] = _stored_rdd_ids(spark)

    before = _stored_rdd_ids(spark)
    t = threading.Thread(target=worker)
    t.start()
    try:
        assert entered.wait(120), "worker never staged"
        b_blocks = b_state["during"] - before
        assert b_blocks, "worker scope ran without storing staged blocks"
        # main-thread scope while B's scope is still open
        with staged_scope():
            global_row_number(df_a, [F.col("v"), F.col("id")]).count()
            during_a = _stored_rdd_ids(spark)
        after_a = _stored_rdd_ids(spark)
        a_blocks = during_a - b_state["during"]
        assert a_blocks, "main scope ran without storing staged blocks"
        # main exit released ONLY its own frames: B's still stored
        assert a_blocks.isdisjoint(after_a), "main scope leaked blocks"
        assert b_blocks <= after_a, (
            "main scope's exit released the worker's staged blocks"
        )
    finally:
        release.set()
        t.join(120)
    assert b_state["after"] - before == set(), "worker leaked blocks"
    # B's result stays correct (matches the single-partition window)
    expected = sorted(
        (r.id, r.rn)
        for r in df_b.select(
            "id",
            F.row_number().over(Window.orderBy("v", "id")).alias("rn"),
        ).collect()
    )
    assert b_state["rows"] == expected


def test_staging_beside_a_scope_leaves_nothing_cached(spark):
    """A thread that stages while ANOTHER thread holds a scope keeps
    the default localCheckpoint: nothing it stages lands in the
    session-wide CacheManager, where no scope would ever release it.
    After the scope exits, no frame staged by either thread is
    cached."""
    import threading

    from pyspark.storagelevel import StorageLevel

    from idn_area_etl_spark.operators.stage import _stage, staged_scope

    staged = {}
    with staged_scope():
        staged["scope"] = _stage(_df(spark, 600))
        staged["scope"].count()

        def worker():
            staged["other"] = _stage(_df(spark, 700))
            staged["other"].count()

        t = threading.Thread(target=worker)
        t.start()
        t.join(120)
        assert not t.is_alive() and "other" in staged, "worker did not stage"
        assert staged["scope"].storageLevel == StorageLevel.MEMORY_AND_DISK
    cached = [k for k, df in staged.items() if df.storageLevel != StorageLevel.NONE]
    assert cached == [], f"frames left in the CacheManager: {cached}"


def test_staging_disabled_returns_the_frame_and_nests(spark):
    """Inside staging_disabled() _stage is the identity; nested blocks
    keep it off until the outermost one exits, then staging is back."""
    from idn_area_etl_spark.operators.stage import _stage, staging_disabled

    df = _df(spark, 100)
    with staging_disabled():
        assert _stage(df) is df
        with staging_disabled():
            assert _stage(df) is df
        assert _stage(df) is df
    staged = _stage(df)
    assert staged is not df
    assert "ExistingRDD" in staged._jdf.queryExecution().executedPlan().toString()


def test_grouped_running_multi_matches_window(spark):
    """Per-group running sums/totals from the distributed helper equal
    the plain partitionBy window bit-for-bit on multi-partition data,
    including multiple value columns and duplicate order values
    resolved by the unique tiebreaker."""
    from idn_area_etl_spark.operators.ranks import grouped_running_multi

    df = (
        spark.range(8000)
        .repartition(16)
        .select(
            (F.col("id") % 5).alias("g"),
            "id",
            (F.xxhash64("id") % 7).alias("v"),
            F.lit(1).alias("one"),
        )
    )
    got = grouped_running_multi(
        df,
        ["g"],
        [F.col("v"), F.col("id")],
        {"v": F.col("v"), "one": F.col("one")},
    )
    w = Window.partitionBy("g").orderBy("v", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    exp = (
        df.withColumn("grun_v", F.sum("v").over(w))
        .withColumn("grun_one", F.sum("one").over(w))
        .withColumn("gtot_v", F.sum("v").over(wall))
        .withColumn("gtot_one", F.sum("one").over(wall))
    )
    cols = ["g", "id", "grun_v", "grun_one", "gtot_v", "gtot_one"]
    got_rows = sorted(tuple(r[c] for c in cols) for r in got.select(*cols).collect())
    exp_rows = sorted(tuple(r[c] for c in cols) for r in exp.select(*cols).collect())
    assert got_rows == exp_rows


def test_grouped_running_multi_null_runs_match_window(spark):
    """A group's running sum is NULL until its first non-NULL value,
    as in the partitioned window: on the NULL-run input, groups 0-2
    lead with the NULLs of ids < 60 and group 3 (the middle run) is
    all NULL."""
    from idn_area_etl_spark.operators.ranks import grouped_running_multi

    g = F.when(F.col("id").between(1000, 2499), 3).otherwise(F.col("id") % 3)
    _assert_matches_window(
        spark,
        lambda df: grouped_running_multi(
            df.withColumn("g", g), ["g"], _order(), {"v": F.col("v")}
        ),
        lambda df, w: df.select(
            "id",
            F.sum("v").over(_upto(w.partitionBy(g))).alias("grun_v"),
            F.sum("v").over(Window.partitionBy(g)).alias("gtot_v"),
        ),
        ["grun_v", "gtot_v"],
    )


def test_discrete_quantiles_match_sorted_index(spark):
    """discrete_quantiles returns the stored element at rank ⌈q·n⌉ —
    verified against direct sorted-list indexing, including duplicate
    values and a q that lands exactly on an integer rank."""
    from idn_area_etl_spark.operators.ranks import discrete_quantiles

    df = (
        spark.range(1000)
        .repartition(8)
        .select((F.xxhash64("id") % 97).cast("double").alias("v"))
    )
    qs = [(1, 4), (1, 2), (3, 4), (99, 100)]
    row = discrete_quantiles(df, F.col("v"), qs).collect()[0]
    vals = sorted(r["v"] for r in df.collect())
    n = len(vals)
    for i, (num, den) in enumerate(qs):
        rank = -(-num * n // den)  # ceil
        assert row[f"t{i}"] == vals[rank - 1], (num, den)


def test_grouped_topk_collision_guard(spark):
    """Pre-existing _salt/_lrk/out columns raise loudly instead of
    being silently clobbered (r7 ADVICE)."""
    import pytest

    base = spark.range(10).select(
        (F.col("id") % 2).alias("g"), "id", F.lit(0).alias("v")
    )
    for bad in ("_salt", "_lrk", "rnk"):
        df = base.withColumn(bad, F.lit(1))
        with pytest.raises(ValueError, match=bad):
            grouped_topk(df, ["g"], [F.col("v"), F.col("id")], 2,
                         salt_key=F.col("id"))


def test_grouped_running_multi_collision_guard(spark):
    """Pre-existing grun_/gtot_/tot_/_gcum_/_gprior_/_gt_ columns on
    the input raise loudly instead of being silently clobbered or
    dropped (r8, mirroring grouped_topk's guard; ADVICE r7)."""
    import pytest

    from idn_area_etl_spark.operators.ranks import grouped_running_multi

    base = spark.range(10).select(
        (F.col("id") % 2).alias("g"), "id", F.lit(1).alias("v")
    )
    for bad in ("grun_v", "gtot_v", "tot_v", "_gcum_v", "_gprior_v",
                "_gt_v"):
        df = base.withColumn(bad, F.lit(1))
        with pytest.raises(ValueError, match=bad):
            grouped_running_multi(
                df, ["g"], [F.col("id")], {"v": F.col("v")}
            )


def test_grouped_running_multi_null_group_contract(spark):
    """The documented NULL-group-key contract: rows with a NULL group
    key are dropped by the equi-join (callers pre-filter/coalesce);
    non-null groups are unaffected by the null rows' presence."""
    from idn_area_etl_spark.operators.ranks import grouped_running_multi

    df = spark.range(10).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.col("id") % 3)
        .alias("g"),
        "id",
        F.lit(1).alias("v"),
    )
    got = grouped_running_multi(df, ["g"], [F.col("id")], {"v": F.col("v")})
    rows = got.collect()
    assert all(r["g"] is not None for r in rows)
    assert len(rows) == df.filter(F.col("g").isNotNull()).count()
