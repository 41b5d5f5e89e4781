"""Twenty-ninth wave: winsorized robust means, one-pass table
profiling, Pareto coverage, and training-mixture rebalancing.

Reference parity note: engine-native analytics + dataset-prep ops
(the training-data-pipeline axis of BASELINE.json's north star);
every query carries an exact DuckDB oracle.

- **Winsorized means** (`q_winsorized_means`) — per-event-type means
  after clipping values to the type's [p05, p95]: group percentiles
  in one agg (tiny result, broadcast back), per-row clip, exact
  decimal mean.  The robust-stats sibling of the MAD screen with the
  wave-27 threshold-broadcast stance.
- **Table profile** (`q_profile_orders`) — the data-profiling
  one-pass: selected columns unpivoted row-locally (``stack``) into
  (column, value) long form, then per-column row/null/distinct
  counts and min/max — the schema-quality report a 100 TB ingest
  runs before anything else.  One scan, one agg; exact distincts
  (swap to approx_count_distinct when the column domain itself is
  huge).
- **Pareto coverage** (`q_pareto_coverage`) — the smallest customer
  prefix (by spend) covering ≥80% of revenue.  The global-order
  window runs over the per-customer rollup (orders of magnitude
  smaller than the fact table); exact decimal cumulative shares;
  deterministic spend→custkey ordering.
- **Mixture rebalance** (`s_mixture_rebalance`) — build a training
  mixture with target language proportions (permille weights): the
  feasible total is the bottleneck min over (available·1000) div
  weight, per-language quotas are integer div, and the kept set is
  the deterministic md5-rank top-k per language (the
  s_group_sample_fixed machinery) — so the mixture is reproducible
  under any partitioning.  Kept-set membership is pinned by
  char-count sums, not just counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import global_order_stats
from idn_area_etl_spark.operators.ranks import grouped_running_multi
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# q_winsorized_means
# ------------------------------------------------------------------ #

WINSOR_LO, WINSOR_HI = 0.05, 0.95


def q_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized mean of value (clip at p05/p95).

    The clip thresholds are DISCRETE per-type quantiles (stored
    elements at rank ⌈q·n⌉) — clipped values land exactly ON a stored
    value, so the emitted mean carries no cross-engine interpolation
    arithmetic (r7, the a_quantile_sketch red-row class); the rank
    selection runs over the per-(type, value) rollup's distributed
    running counts (event_type is a fixed taxonomy — the funnel
    regime for a plain per-type window)."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.3/§2.4): the clipped mean now derives from the
    # STAGED (type, value, cnt) rollup — clipping maps every copy of
    # a distinct value to the same clipped value, so the winsorized
    # sum is cnt exact-decimal copies of it (decimal × cnt = the sum
    # of cnt copies, exactly) — instead of re-scanning events for the
    # per-row clip pass (2 duplicate scans before).
    rolled = _stage(
        ev.groupBy("event_type", "value").agg(
            F.count("*").alias("cnt")
        )
    )
    run = grouped_running_multi(
        rolled, ["event_type"], [F.col("value")], {"c": F.col("cnt")}
    )
    before = F.col("grun_c") - F.col("cnt")
    lo_r = F.expr("(gtot_c + 19) div 20")        # ceil(0.05 n)
    hi_r = F.expr("(19 * gtot_c + 19) div 20")   # ceil(0.95 n)
    thr = run.groupBy("event_type").agg(
        F.min(
            F.when((before < lo_r) & (lo_r <= F.col("grun_c")), F.col("value"))
        ).alias("lo"),
        F.min(
            F.when((before < hi_r) & (hi_r <= F.col("grun_c")), F.col("value"))
        ).alias("hi"),
    )
    clipped = rolled.join(F.broadcast(thr), "event_type").select(
        "event_type",
        "cnt",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "v"
        ),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n"),
            F.round(
                # cnt cast to decimal(13,0) keeps the product at
                # decimal(38,6) — exact (a bare long multiplicand
                # pushes precision past 38; Spark then truncates)
                F.sum(
                    F.col("v").cast("decimal(24,6)")
                    * F.col("cnt").cast("decimal(13,0)")
                )
                .cast("double")
                / F.sum("cnt").cast("double"),
                6,
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


Q_WINSOR_SQL = f"""
WITH ranked AS (
  SELECT event_type, value,
    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
thr AS (
  SELECT event_type,
    MIN(CASE WHEN rn = (n + 19) // 20 THEN value END) AS lo,
    MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS hi
  FROM ranked GROUP BY event_type
),
clipped AS (
  SELECT e.event_type, LEAST(GREATEST(e.value, t.lo), t.hi) AS v
  FROM events e JOIN thr t USING (event_type)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS winsorized_mean
FROM clipped GROUP BY event_type ORDER BY event_type
"""


# ------------------------------------------------------------------ #
# q_profile_orders
# ------------------------------------------------------------------ #

PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey"]


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of orders: rows / nulls / distincts /
    min / max per profiled column (stack → long form → one agg)."""
    o = load_table(spark, sf_dir, "orders")
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in PROFILE_COLS
    )
    long = o.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS (col_name, val)"
        )
    )
    return (
        long.groupBy("col_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("val").isNull().cast("long")).alias("n_nulls"),
            F.countDistinct("val").alias("n_distinct"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("col_name")
    )


def _profile_sql() -> str:
    blocks = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS val FROM orders"
        for c in PROFILE_COLS
    )
    return f"""
WITH long AS ({blocks})
SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_nulls,
  CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct,
  MIN(val) AS min_val, MAX(val) AS max_val
FROM long GROUP BY col_name ORDER BY col_name
"""


# ------------------------------------------------------------------ #
# q_pareto_coverage
# ------------------------------------------------------------------ #

PARETO_TARGET = 0.8


def q_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smallest top-spender prefix covering ≥80% of revenue."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias("spend")
    )
    # per-customer cardinality is unbounded at scale — the global
    # rank/cum-share comes from the distributed range-partitioned
    # primitive, not a single-partition window
    ranked = global_order_stats(
        per_cust,
        [F.col("spend").desc(), F.col("o_custkey").asc()],
        F.col("spend"),
        rn_out="rk",
        run_out="cum_spend",
        count_out="n_total",
        total_out="total_spend",
    ).select(
        "o_custkey",
        "rk",
        (
            F.col("cum_spend").cast("double")
            / F.col("total_spend").cast("double")
        ).alias("cum_share"),
        "n_total",
    )
    cut = ranked.filter(F.col("cum_share") >= PARETO_TARGET).agg(
        F.min("rk").alias("n_top")
    )
    hit = ranked.join(F.broadcast(cut), ranked.rk == cut.n_top).select(
        "n_top",
        "n_total",
        F.round(
            F.col("n_top").cast("double") / F.col("n_total").cast("double"),
            6,
        ).alias("pct_customers"),
        F.round("cum_share", 6).alias("share_at_cut"),
    )
    return hit


Q_PARETO_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
    SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS spend
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT o_custkey,
    ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rk,
    CAST(SUM(spend) OVER (ORDER BY spend DESC, o_custkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / CAST(SUM(spend) OVER () AS DOUBLE) AS cum_share,
    COUNT(*) OVER () AS n_total
  FROM per_cust
),
cut AS (
  SELECT MIN(rk) AS n_top
  FROM ranked WHERE cum_share >= {PARETO_TARGET}
)
SELECT CAST(c.n_top AS BIGINT) AS n_top,
  CAST(r.n_total AS BIGINT) AS n_total,
  ROUND(CAST(c.n_top AS DOUBLE) / CAST(r.n_total AS DOUBLE), 6)
    AS pct_customers,
  ROUND(r.cum_share, 6) AS share_at_cut
FROM cut c JOIN ranked r ON r.rk = c.n_top
"""


# ------------------------------------------------------------------ #
# s_mixture_rebalance
# ------------------------------------------------------------------ #

#: target language mixture in permille (integers → exact quotas).
MIXTURE_PERMILLE = {"en": 400, "de": 150, "es": 150, "fr": 150, "zh": 150}


def s_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture construction: per-language
    quotas from permille targets bounded by the bottleneck language,
    membership by salted-md5 rank (partition-invariant)."""
    # r9: measured and deliberately NOT staged — the two consumers
    # read a narrow pushdown projection each, and staging the
    # doc-scale frame benched 1.6× slower at sf0.1 (0.68 → 1.10 s)
    # while being storage-neutral at cluster scale.
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isin(*MIXTURE_PERMILLE))
        .select("lang", "doc_id", "n_chars")
    )
    weights = F.create_map(
        *[
            x
            for k, v in sorted(MIXTURE_PERMILLE.items())
            for x in (F.lit(k), F.lit(v))
        ]
    )
    avail = docs.groupBy("lang").agg(F.count("*").alias("avail"))
    # feasible total N = min over langs of (avail*1000) div weight
    per_lang = avail.withColumn("w", weights[F.col("lang")])
    n_feasible = per_lang.agg(
        F.min(F.expr("(avail * 1000) div w")).alias("n_total")
    )
    quotas = per_lang.crossJoin(F.broadcast(n_feasible)).select(
        "lang",
        "avail",
        F.expr("(w * n_total) div 1000").alias("quota"),
    )
    h = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    # r7, window-funnel gate: lang has a 5-value domain here, so a
    # plain per-lang rank window would stream each language's whole
    # document set through one task; the rank is the distributed
    # per-group running count instead (identical given the unique
    # (md5, doc_id) order)
    ranked = grouped_running_multi(
        docs.select("lang", "doc_id", "n_chars"),
        ["lang"],
        [h, F.col("doc_id")],
        {"one": F.lit(1)},
    ).select("lang", "doc_id", "n_chars", F.col("grun_one").alias("rn"))
    kept = ranked.join(F.broadcast(quotas), "lang").filter(
        F.col("rn") <= F.col("quota")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("kept"),
            F.first("avail").alias("available"),
            F.sum(F.col("n_chars").cast("decimal(20,0)"))
            .cast("long")
            .alias("chars_kept"),
        )
        .orderBy("lang")
    )


def _mixture_sql() -> str:
    weight_rows = ", ".join(
        f"('{k}', {v})" for k, v in sorted(MIXTURE_PERMILLE.items())
    )
    return f"""
WITH w(lang, w) AS (VALUES {weight_rows}),
avail AS (
  SELECT d.lang, COUNT(*) AS avail FROM documents d
  JOIN w ON d.lang = w.lang GROUP BY d.lang
),
nf AS (
  SELECT MIN((avail * 1000) // w.w) AS n_total
  FROM avail JOIN w USING (lang)
),
quotas AS (
  SELECT a.lang, a.avail, (w.w * nf.n_total) // 1000 AS quota
  FROM avail a JOIN w USING (lang) CROSS JOIN nf
),
ranked AS (
  SELECT d.lang, d.doc_id, d.n_chars,
    ROW_NUMBER() OVER (
      PARTITION BY d.lang
      ORDER BY md5('mix:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
    ) AS rn
  FROM documents d JOIN w ON d.lang = w.lang
)
SELECT r.lang, CAST(COUNT(*) AS BIGINT) AS kept,
  CAST(ANY_VALUE(q.avail) AS BIGINT) AS available,
  CAST(SUM(CAST(r.n_chars AS DECIMAL(20,0))) AS BIGINT) AS chars_kept
FROM ranked r JOIN quotas q USING (lang)
WHERE r.rn <= q.quota
GROUP BY r.lang ORDER BY r.lang
"""


SPECS = [
    QuerySpec(
        "q_winsorized_means",
        q_winsorized_means,
        Q_WINSOR_SQL,
        doc="per-type winsorized means (clip at p05/p95)",
        tags=("stats", "robust"),
    ),
    QuerySpec(
        "q_profile_orders",
        q_profile_orders,
        _profile_sql(),
        doc="one-pass column profile: rows/nulls/distincts/min/max",
        tags=("quality", "profiling"),
    ),
    QuerySpec(
        "q_pareto_coverage",
        q_pareto_coverage,
        Q_PARETO_SQL,
        doc="smallest top-spender prefix covering 80% of revenue",
        tags=("analytics", "distribution"),
    ),
    QuerySpec(
        "s_mixture_rebalance",
        s_mixture_rebalance,
        _mixture_sql(),
        doc="deterministic training-mixture quotas by permille targets",
        tags=("sampling", "dataset-prep"),
    ),
]
