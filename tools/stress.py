"""Scale-stress harness: empirical scaling curves for the dedup / ANN /
text paths on synthetic corpora 10-100x the driver test data.

The correctness gate runs at sf0.01 (~500 docs); this harness answers
the other question the brief asks — "would the plan survive a 100x
scale-up?" — by generating corpora of N and 10N documents PURELY with
Catalyst expressions (spark.range + hash arithmetic; no Python in the
data path, no files written) and timing each scale-path operator at
both sizes.  An operator whose candidate generation is truly
equi-join-bounded shows near-linear wall-clock growth; anything
quadratic shows up immediately as a >>10x jump.

Usage:
    python tools/stress.py [base_n] [factor]     # default 100_000 10

Prints one JSON line per (op, n) measurement plus a final summary line
with the growth exponent log(t_big/t_small)/log(factor) per op
(1.0 = perfectly linear; sub-linear happens when fixed overheads
dominate).  Results are recorded in SCALE.md §"Measured scaling".
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from idn_area_etl_spark.session import get_spark  # noqa: E402
from idn_area_etl_spark.operators import (  # noqa: E402
    dedup,
    graph,
    ivf,
    joins,
    similarity,
    text,
)

VOCAB = 2_000  # distinct synthetic words
DIM = 32       # embedding dimensionality


def synth_docs(spark, n: int) -> DataFrame:
    """N base docs of 30-80 synthetic words + 5% planted near-dups.

    Words are hash-derived (`w<h>`), so shingle statistics look like
    real text (Zipf-ish collisions at VOCAB words); every 20th doc gets
    a near-identical twin (one word appended) so the fuzzy paths have
    true positives to find.
    """
    words = F.transform(
        F.sequence(F.lit(1), F.pmod(F.xxhash64("id"), F.lit(51)) + F.lit(30)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id") * F.lit(1009) + i), F.lit(VOCAB)),
        ),
    )
    base = spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    twins = (
        base.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + F.lit(n)).alias("doc_id"),
            F.concat("text", F.lit(" wextra")).alias("text"),
        )
    )
    return base.unionByName(twins).withColumn(
        "n_chars", F.length("text").cast("long")
    )


def synth_embeddings(spark, n: int) -> DataFrame:
    """N unit-scale vectors from hash arithmetic + 2% planted near-dups."""
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("id") * F.lit(7919) + i), F.lit(2001))
            - F.lit(1000)
        ).cast("double")
        / F.lit(1000.0),
    )
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 16).cast("string").alias("label"),
        vec.alias("embedding"),
    )
    twins = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(n)).alias("vec_id"),
        "label",
        F.transform(
            "embedding", lambda x: x + F.lit(0.001)
        ).alias("embedding"),
    )
    return base.unionByName(twins)


def synth_events(spark, n: int) -> DataFrame:
    """N left events + N/10 right events over n/50 keys, hash-derived
    timestamps — the as-of join stress shape."""
    left = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(max(n // 50, 1))).alias("k"),
        F.pmod(F.xxhash64(F.col("id") + 1), F.lit(10_000_000)).alias("ts"),
        F.col("id").alias("left_id"),
    )
    right = spark.range(n // 10).select(
        F.pmod(F.xxhash64(F.col("id") * 31), F.lit(max(n // 50, 1))).alias("k"),
        F.pmod(F.xxhash64(F.col("id") * 37), F.lit(10_000_000)).alias("ts"),
        F.col("id").alias("payload"),
    ).groupBy("k", "ts").agg(F.min("payload").alias("payload"))
    return left, right


def synth_edges(spark, n: int) -> DataFrame:
    """Sparse graph: n nodes, ~1.5n hash-derived edges (mostly short
    chains + random chords) — the connected-components stress shape."""
    a = spark.range(n).select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % n).alias("dst"),
    ).filter(F.pmod(F.xxhash64("src"), F.lit(10)) < 7)
    b = spark.range(n // 2).select(
        F.pmod(F.xxhash64("id"), F.lit(n)).alias("src"),
        F.pmod(F.xxhash64(F.col("id") * 13 + 7), F.lit(n)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return a.unionByName(b)


def _curation(docs: DataFrame) -> DataFrame:
    """Flagship curation pipeline over the synthetic corpus (quality
    gate → hash-agg dedup + join-back → split → rollup) — same shape
    as plans/wave12.py's p_curation_pipeline."""
    from idn_area_etl_spark.operators.stage import _stage
    from idn_area_etl_spark.operators.text import quality_score_expr

    scored = docs.select(
        "doc_id",
        F.lit("syn").alias("lang"),
        "text",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        quality_score_expr("text").alias("quality"),
    ).filter(F.col("quality") >= 0.0)
    small = _stage(
        scored.select(
            "doc_id", "lang", "n_tokens", F.md5("text").alias("content_hash")
        )
    )
    reps = small.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    deduped = reps.select("doc_id").join(small, "doc_id")
    pct = F.pmod(F.xxhash64("doc_id"), F.lit(100))
    split = (
        F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
    )
    return (
        deduped.select("lang", "n_tokens", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


def _with_lang(docs: DataFrame) -> DataFrame:
    """Attach a 5-value hash-derived lang column (the keep-best / DSIR
    rollup key; 'l0' doubles as the DSIR target language)."""
    return docs.withColumn(
        "lang",
        F.concat(F.lit("l"), F.pmod(F.xxhash64("doc_id"), F.lit(5))),
    )


def _keep_best(docs: DataFrame) -> DataFrame:
    """s_dedup_keep_best end-to-end (prefix-join edges → CC → keeper
    election → retention rollup), post-broadcast-fix plan shape."""
    from idn_area_etl_spark.plans.wave54 import keep_best_rollup

    return keep_best_rollup(_with_lang(docs))


def _dsir(docs: DataFrame) -> DataFrame:
    """d_dsir_weights end-to-end (token explode → vocabulary log-ratio
    → per-doc score → per-lang rollup), post-broadcast-fix plan shape:
    the occ⋈ratio join on the token key is a plain shuffle join."""
    from idn_area_etl_spark.plans.wave44 import dsir_rollup

    return dsir_rollup(_with_lang(docs), target_lang="l0")


def synth_user_events(spark, n: int) -> DataFrame:
    """N events over n/10 users with hash-derived error flags and
    values — the a_win_ratio stress shape (the quantity that used to
    be quadratic is the USER count)."""
    uid = F.pmod(F.xxhash64("id"), F.lit(max(n // 10, 1)))
    return spark.range(n).select(
        uid.alias("user_id"),
        F.when(
            F.pmod(F.xxhash64(F.col("id") * 3 + 1), F.lit(20)) == 0,
            F.lit("error"),
        ).otherwise(F.lit("view")).alias("event_type"),
        (
            F.pmod(F.xxhash64(F.col("id") * 7 + 3), F.lit(100_000))
            / F.lit(100.0)
        ).alias("value"),
    )


def synth_flag_rows(spark, n: int) -> DataFrame:
    """N rows over a FIXED 3-value flag domain with hash-derived
    prices/weights — the r7 window-funnel shape (each flag group holds
    n/3 data-scaled rows; a plain per-flag window streams them through
    one task)."""
    return spark.range(n).select(
        "id",
        F.pmod(F.xxhash64("id"), F.lit(3)).cast("string").alias("flag"),
        (
            F.pmod(F.xxhash64(F.col("id") * 3 + 1), F.lit(1_000_000))
            / F.lit(100.0)
        ).alias("price"),
        (F.pmod(F.xxhash64(F.col("id") * 7 + 3), F.lit(50)) + 1).alias("w"),
    )


def synth_unique_vals(spark, n: int) -> DataFrame:
    """N rows whose double value domain is NEAR-UNIQUE (~0.95·n
    distinct values after hash collisions) — the worst-case regime
    for discrete_quantiles/global_running_multi, where the
    distinct-value rollup is itself data-scaled and the range
    shuffle carries ~n rows (r8, VERDICT r7 item 3)."""
    return spark.range(n).select(
        "id",
        (
            F.pmod(F.xxhash64("id"), F.lit(10) * F.lit(n)) / F.lit(1000.0)
        ).alias("v"),
    )


def _discrete_quantiles(rows: DataFrame) -> DataFrame:
    """ranks.discrete_quantiles end-to-end in the near-unique regime:
    distinct-value rollup -> global_running_multi range-shuffled
    running counts -> min-per-target aggregate (the r7 primitive that
    replaced every cross-engine interpolated percentile)."""
    from idn_area_etl_spark.operators.ranks import discrete_quantiles

    return discrete_quantiles(
        rows, F.col("v"), [(1, 4), (1, 2), (3, 4), (99, 100)]
    )


def _grouped_running(rows: DataFrame) -> DataFrame:
    """ranks.grouped_running_multi end-to-end on the weighted-median
    shape: per-(flag, price) rollup -> per-flag running weights ->
    the covering (median) row per flag — the r7 plan that replaced
    the per-flag window funnel."""
    from idn_area_etl_spark.operators.ranks import grouped_running_multi

    rolled = rows.groupBy("flag", "price").agg(F.sum("w").alias("w"))
    cum = grouped_running_multi(
        rolled, ["flag"], [F.col("price")], {"w": F.col("w")}
    )
    return (
        cum.filter(F.col("grun_w") * 2 >= F.col("gtot_w"))
        .groupBy("flag")
        .agg(F.min("price").alias("wmedian"))
    )


def _win_ratio(ev: DataFrame) -> DataFrame:
    """a_win_ratio end-to-end (per-user rollup → (errors, value)
    histogram → two distributed cumulative-count passes → dominance
    aggregate), the r6 rank-based plan shape that replaced the
    user-pair cross join."""
    from idn_area_etl_spark.plans.wave61 import win_ratio_from_events

    return win_ratio_from_events(ev)


def _nn_matching(ev: DataFrame) -> DataFrame:
    """a_nn_matching_att's r6 sorted predecessor/successor match shape
    over synthetic user events (was: t×c all-pairs product)."""
    from idn_area_etl_spark.plans.wave82 import matched_pairs_1d

    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value")).alias("pre"),
        F.sum(F.col("value") * 2).alias("post"),
    )
    armed = per_user.select(
        F.pmod(F.xxhash64("user_id"), F.lit(2)).alias("g"),
        "user_id",
        "pre",
        "post",
    )
    return matched_pairs_1d(armed).agg(
        F.count("*").alias("n"),
        F.sum(F.col("tpost") - F.col("cpost")).alias("att_sum"),
    )


def _knn_eval(emb: DataFrame) -> DataFrame:
    """The r6 probe-bounded 1-NN eval shape (e_knn_loo_accuracy):
    200 broadcast probes × streaming corpus, min_by winner — must be
    LINEAR in corpus size (was: corpus×corpus all-pairs)."""
    from idn_area_etl_spark.operators.similarity import (
        as_double_vec,
        dot_expr,
        norm_expr,
    )

    v = emb.select(
        "vec_id", "label", as_double_vec(F.col("embedding")).alias("vec")
    ).withColumn("nrm", norm_expr(F.col("vec")))
    q = v.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlbl"),
        F.col("vec").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = v.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clbl"),
        F.col("vec").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = F.round(
        dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
    )
    scored = c.join(F.broadcast(q), F.col("qid") != F.col("cid")).select(
        "qid", "qlbl", "clbl", F.round(cos * 1e6).cast("long").alias("ci")
    )
    nn = scored.groupBy("qid", "qlbl").agg(
        F.min_by(
            "clbl", F.struct((-F.col("ci")).alias("a"), F.col("clbl").alias("b"))
        ).alias("clbl")
    )
    return nn.groupBy("qlbl").agg(
        F.count("*").alias("n"),
        F.sum((F.col("clbl") == F.col("qlbl")).cast("long")).alias("ok"),
    )


def run_noop(df: DataFrame) -> float:
    start = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def drop_persisted_blocks(spark) -> None:
    """Unpersist every cached/checkpointed RDD between ops.

    The sketch-stage lazy localCheckpoints (`operators/stage.py:_stage`)
    and the iterative ops' checkpoints live until the session ends; in
    a combined run they pile up in storage memory and inflate later
    ops' timings 1.5-2x vs a dedicated run (measured: winnow_pairs 1M
    40.1 s combined vs 21.8 s dedicated before this hook).
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)


def main() -> None:
    base_n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    # optional comma-separated op filter (3rd arg) so a long tier can
    # be finished in pieces: python tools/stress.py 100000 10 prefix_jaccard
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

    spark = get_spark(app_name="stress")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    ops: dict[str, object] = {
        "exact_dedup": lambda d, e: dedup.exact_dedup_groups(d),
        "minhash_verified": lambda d, e: dedup.minhash_verified_pairs(d),
        "simhash_pairs": lambda d, e: dedup.simhash_near_pairs(d),
        "token_stats": lambda d, e: text.token_stats(d),
        "lang_scores": lambda d, e: text.lang_scores(d),
        "lsh_ann": lambda d, e: similarity.lsh_ann_topk(
            e.limit(64), e, k=3, dim=DIM
        ),
        "winnow_pairs": lambda d, e: dedup.winnow_substring_pairs(d),
        "prefix_jaccard": lambda d, e: dedup.prefix_jaccard_join(d),
        "ivf_fit_search": lambda d, e: ivf.ivf_ann_topk(
            e.limit(64), e, ivf.kmeans_fit(e, k=8, iters=2), k=3
        ),
        "asof_join": lambda l, r: joins.asof_join(
            l, r, "k", "ts", "ts", ["payload"]
        ),
        "connected_components": lambda edges, _: graph.connected_components(
            edges, "src", "dst"
        ),
        "curation": lambda d, e: _curation(d),
        # end-to-end shapes of the two specs whose forced broadcasts
        # were removed in round 5 (VERDICT r4 item 6): both now plan
        # the cluster-keyed / token-keyed joins as shuffle joins
        "keep_best": lambda d, e: _keep_best(d),
        "dsir_weights": lambda d, e: _dsir(d),
        # r6: the three all-pairs reformulations (rank-based dominance
        # counting, sorted 1-D matching, probe-bounded 1-NN eval)
        "win_ratio": lambda uev, _: _win_ratio(uev),
        # r7: the per-group running-sum primitive that replaced the
        # fixed-domain window funnels (weighted-median shape)
        "grouped_running": lambda rows, _: _grouped_running(rows),
        # r8: the discrete-quantile primitive in its worst case — a
        # near-unique value domain where the rollup is data-scaled
        "discrete_quantiles": lambda rows, _: _discrete_quantiles(rows),
        "nn_matching": lambda uev, _: _nn_matching(uev),
        "knn_eval": lambda d, e: _knn_eval(e),
        # NOT measured: near_dup_pairs / ngram_jaccard_pairs — blocked
        # all-pairs kernels are quadratic within a block BY DESIGN
        # (exact verification kernels); their scale story is "run them
        # on LSH candidates", which minhash_verified measures.
    }

    timings: dict[str, dict[int, float]] = {k: {} for k in ops}
    for n in dict.fromkeys((base_n, base_n * factor)):
        docs = synth_docs(spark, n)
        emb = synth_embeddings(spark, n)
        left, right = synth_events(spark, n)
        edges = synth_edges(spark, n)
        inputs = {
            "asof_join": (left, right),
            "connected_components": (edges, None),
            "win_ratio": (synth_user_events(spark, n), None),
            "grouped_running": (synth_flag_rows(spark, n), None),
            "discrete_quantiles": (synth_unique_vals(spark, n), None),
            "nn_matching": (synth_user_events(spark, n), None),
        }
        for name, build in ops.items():
            if only is not None and name not in only:
                continue
            x, y = inputs.get(name, (docs, emb))
            drop_persisted_blocks(spark)
            best = float("inf")
            for _ in range(2):
                # iterative ops (kmeans, CC) do driver-side work at
                # build time; time build + sink together so it counts
                start = time.perf_counter()
                build(x, y).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - start)
            timings[name][n] = round(best, 3)
            print(
                json.dumps(
                    {"op": name, "n": n, "sec": timings[name][n]}
                ),
                flush=True,
            )

    import math

    summary = {
        name: round(
            math.log(t[base_n * factor] / t[base_n]) / math.log(factor), 2
        )
        for name, t in timings.items()
        if factor > 1 and base_n in t and base_n * factor in t
    }
    print(json.dumps({"growth_exponent": summary, "factor": factor}))
    spark.stop()


if __name__ == "__main__":
    main()
