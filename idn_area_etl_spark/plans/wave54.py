"""Fifty-fourth wave: keep-best dedup survivorship, Spearman
correlation, and difference-in-differences.

Reference parity note: dedup-pipeline + statistics + experimentation
extensions; every query carries an exact DuckDB oracle (the cluster
oracle reuses the WITH RECURSIVE min-label propagation pattern of
wave6's d_dedup_clusters).

- **Keep-best dedup** (`s_dedup_keep_best`) — the survivorship tier
  on top of clustering: connected components over the EXACT
  prefix-join near-dup edges (Jaccard >= 0.8 on 5-gram shingles),
  keeper = longest document per cluster (doc_id tiebreak), reported
  as per-language retention of docs and characters.  This is the
  policy LLM pipelines actually ship — dedup keeps the best copy,
  not the first.
- **Spearman correlation** (`a_spearman_corr`) — rank correlation
  between customer balance and order count: two rank transforms
  (unique tiebreak) and one Pearson over the integer ranks, exact
  until the final single-expression float.
- **Diff-in-diff** (`a_diff_in_diff`) — the two-period treatment
  estimator over md5 arms x (pre/post 2024-01-16): effect =
  (post_t - pre_t) - (post_c - pre_c) on mean user value, with the
  pooled z from exact decimal per-cell moments.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import prefix_jaccard_join
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.graph import connected_components
from idn_area_etl_spark.operators.ranks import global_row_number
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# s_dedup_keep_best
# ------------------------------------------------------------------ #


def s_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters (prefix-join edges, Jaccard >= 0.8) keep the
    LONGEST doc; per-language doc/char retention."""
    return keep_best_rollup(load_table(spark, sf_dir, "documents"))


def keep_best_rollup(docs: DataFrame) -> DataFrame:
    """The keep-best survivorship pipeline over any (doc_id, lang,
    text) frame — split out so tools/stress.py can tier the SAME
    end-to-end shape on synthetic 100k/1M corpora."""
    edges = prefix_jaccard_join(docs, n=5, tau_num=4, tau_den=5).select(
        "doc1", "doc2"
    )
    comp = connected_components(edges, "doc1", "doc2")
    # chars is null-safe: an all-NULL-text cluster must still elect a
    # keeper (the max-chars equi-join below never matches on NULL)
    meta = docs.select(
        "doc_id",
        "lang",
        F.coalesce(F.length("text"), F.lit(0)).alias("chars"),
    )
    # r8-opt: pack the keeper ordering (chars DESC, doc_id ASC) into
    # ONE exact decimal key so keeper election is a single primitive-
    # buffer HashAggregate max — the pre-r8 shape needed two
    # aggregates plus an extra doc-scale equi-join on (cluster, chars)
    # (a struct-min would still be wrong: non-primitive agg buffers
    # plan as SortAggregate, which sorts the doc-scale clustered table
    # on both sides of the shuffle — see SCALE.md "SortAggregate
    # hazard").  pref = chars·10¹⁹ + (10¹⁹−1−doc_id) is exact in
    # decimal(31,0): chars is an INT (Spark length() ≤ 2³¹, 10
    # digits) and 0 ≤ doc_id < 10¹⁹ covers the full non-negative long
    # range (doc ids are non-negative in every caller — parquet docs
    # and spark.range stress corpora; same contract as
    # grouped_running_multi's non-null keys).  pref is strictly
    # monotone in (chars, −doc_id), so max(pref) elects exactly the
    # pre-r8 keeper, and pref == max(pref) marks exactly one row per
    # cluster (doc_id is unique).
    pref = (
        F.col("chars").cast("decimal(10,0)")
        * F.lit(Decimal(10**19))
    ) + (
        F.lit(Decimal(10**19 - 1))
        - F.col("doc_id").cast("decimal(19,0)")
    )
    # r8-opt: staged — clustered feeds both
    # the keeper aggregate and the retention rollup; unstaged, the
    # plan re-runs the docs scan + component join per consumer (the
    # pre-r8 plan held THREE copies: 3 scans + 6 doc_id exchanges).
    clustered = _stage(
        meta.join(
            comp.select(F.col("node").alias("doc_id"), "component"),
            "doc_id",
            "left",
        ).select(
            "lang",
            "chars",
            F.coalesce("component", F.col("doc_id")).alias("cluster"),
            pref.alias("pref"),
        )
    )
    keeper = clustered.groupBy("cluster").agg(F.max("pref").alias("best"))
    # NO broadcast hint on keeper: it has one row per cluster, and since
    # cluster = coalesce(component, doc_id) every non-duplicate document
    # is its own cluster — keeper is doc-cardinality.  At 100 TB a forced
    # broadcast would OOM every executor; "cluster" is already the
    # shuffle key of the aggregate above, so the un-hinted join reuses
    # that partitioning (AQE still broadcasts when genuinely small).
    tagged = clustered.join(keeper, "cluster").select(
        "lang",
        "chars",
        (F.col("pref") == F.col("best")).cast("long").alias("kept"),
    )
    return (
        tagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.col("chars").cast("decimal(20,0)"))
            .cast("long")
            .alias("total_chars"),
            F.sum((F.col("kept") * F.col("chars")).cast("decimal(20,0)"))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("lang")
    )


S_KEEPBEST_SQL = r"""
WITH RECURSIVE tok AS (
  SELECT doc_id,
    list_distinct([array_to_string(ws[i:i+4], ' ')
                   for i in generate_series(1, len(ws) - 4)]) AS sh
  FROM (
    SELECT doc_id,
      list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                  x -> x <> '') AS ws
    FROM documents
  )
  WHERE len(ws) >= 5
),
ex AS (SELECT doc_id, unnest(sh) AS s FROM tok),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM tok),
edges AS (
  SELECT d1, d2 FROM inter
  JOIN sizes na ON d1 = na.doc_id
  JOIN sizes nb ON d2 = nb.doc_id
  WHERE i * 5 >= (na.n + nb.n - i) * 4
),
sym AS (
  SELECT d1 AS a, d2 AS b FROM edges
  UNION
  SELECT d2 AS a, d1 AS b FROM edges
),
reach(node, lab) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT s.a, r.lab FROM sym s JOIN reach r ON s.b = r.node
),
comp AS (SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node),
clustered AS (
  SELECT d.doc_id, d.lang, COALESCE(length(d.text), 0) AS chars,
    COALESCE(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
keeper AS (
  SELECT cluster, doc_id AS keep_id FROM (
    SELECT cluster, doc_id, ROW_NUMBER() OVER (PARTITION BY cluster
      ORDER BY chars DESC, doc_id) AS rn
    FROM clustered) WHERE rn = 1
),
tagged AS (
  SELECT lang, chars,
    CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END AS kept
  FROM clustered JOIN keeper USING (cluster)
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(kept) AS BIGINT) AS n_kept,
  CAST(SUM(CAST(chars AS DECIMAL(20,0))) AS BIGINT) AS total_chars,
  CAST(SUM(CAST(kept * chars AS DECIMAL(20,0))) AS BIGINT)
    AS kept_chars
FROM tagged GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------------ #
# a_spearman_corr
# ------------------------------------------------------------------ #


def a_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between customer balance and order
    count (unique-tiebreak ranks -> exact integer Pearson)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cnt = orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    base = cust.select("c_custkey", "c_acctbal").join(
        cnt, cust.c_custkey == cnt.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )
    # per-customer ranks are unbounded at scale: two distributed
    # range-partitioned rankings instead of two single-partition
    # window sorts (values identical — unique tiebreakers)
    ranked = global_row_number(
        global_row_number(
            base, [F.col("c_acctbal").asc(), F.col("c_custkey").asc()], "rx"
        ),
        [F.col("n_orders").asc(), F.col("c_custkey").asc()],
        "ry",
    ).select("rx", "ry")
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx")).alias("sx"),
        F.sum(F.col("ry")).alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return sums.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / den, 6).alias("spearman"),
    )


A_SPEARMAN_SQL = """
WITH cnt AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
),
base AS (
  SELECT c_custkey, c_acctbal, COALESCE(n_orders, 0) AS n_orders
  FROM customer LEFT JOIN cnt ON c_custkey = o_custkey
),
ranked AS (
  SELECT
    ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS rx,
    ROW_NUMBER() OVER (ORDER BY n_orders, c_custkey) AS ry
  FROM base
),
sums AS (
  SELECT COUNT(*) AS n, SUM(rx * ry) AS sxy, SUM(rx) AS sx,
    SUM(ry) AS sy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n,
  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman
FROM sums
"""


# ------------------------------------------------------------------ #
# a_diff_in_diff
# ------------------------------------------------------------------ #


def a_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-period diff-in-diff on mean user-event value across md5
    arms (pre/post 2024-01-16), with the pooled z."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    cut = F.lit("2024-01-16").cast("date")
    cells = ev.select(
        arm.alias("arm"),
        (F.to_date("ts") >= cut).cast("int").alias("post"),
        "value",
    ).groupBy("arm", "post").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,10)")).alias(
            "ss"
        ),
    ).select(
        "arm",
        "post",
        "n",
        F.col("s").cast("double").alias("s"),
        F.col("ss").cast("double").alias("ss"),
    )
    def cell(a: int, p: int, col: str):
        return F.max(
            F.when((F.col("arm") == a) & (F.col("post") == p), F.col(col))
        )

    agg = cells.agg(
        *[
            cell(a, p, c).alias(f"{c}{a}{p}")
            for a in (0, 1)
            for p in (0, 1)
            for c in ("n", "s", "ss")
        ]
    )
    def mean(a: int, p: int):
        return F.col(f"s{a}{p}") / F.col(f"n{a}{p}")

    def sevar(a: int, p: int):
        m = mean(a, p)
        return (
            (F.col(f"ss{a}{p}") - F.col(f"s{a}{p}") * m)
            / (F.col(f"n{a}{p}") - 1)
            / F.col(f"n{a}{p}")
        )

    effect = (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))
    se = F.sqrt(sevar(1, 1) + sevar(1, 0) + sevar(0, 1) + sevar(0, 0))
    return agg.select(
        F.round(mean(0, 0), 6).alias("control_pre"),
        F.round(mean(0, 1), 6).alias("control_post"),
        F.round(mean(1, 0), 6).alias("treat_pre"),
        F.round(mean(1, 1), 6).alias("treat_post"),
        F.round(effect, 6).alias("did_effect"),
        F.round(effect / se, 6).alias("z"),
    )


A_DID_SQL = """
WITH cells AS (
  SELECT
    CAST(('0x' || substring(md5('arm:' || CAST(user_id AS VARCHAR)),
                            1, 13)) AS UBIGINT) % 2 AS arm,
    CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 1 ELSE 0 END
      AS post,
    COUNT(*) AS n,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s,
    CAST(SUM(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE) AS ss
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT
    MAX(CASE WHEN arm = 0 AND post = 0 THEN n END) AS n00,
    MAX(CASE WHEN arm = 0 AND post = 0 THEN s END) AS s00,
    MAX(CASE WHEN arm = 0 AND post = 0 THEN ss END) AS ss00,
    MAX(CASE WHEN arm = 0 AND post = 1 THEN n END) AS n01,
    MAX(CASE WHEN arm = 0 AND post = 1 THEN s END) AS s01,
    MAX(CASE WHEN arm = 0 AND post = 1 THEN ss END) AS ss01,
    MAX(CASE WHEN arm = 1 AND post = 0 THEN n END) AS n10,
    MAX(CASE WHEN arm = 1 AND post = 0 THEN s END) AS s10,
    MAX(CASE WHEN arm = 1 AND post = 0 THEN ss END) AS ss10,
    MAX(CASE WHEN arm = 1 AND post = 1 THEN n END) AS n11,
    MAX(CASE WHEN arm = 1 AND post = 1 THEN s END) AS s11,
    MAX(CASE WHEN arm = 1 AND post = 1 THEN ss END) AS ss11
  FROM cells
)
SELECT
  ROUND(s00 / n00, 6) AS control_pre,
  ROUND(s01 / n01, 6) AS control_post,
  ROUND(s10 / n10, 6) AS treat_pre,
  ROUND(s11 / n11, 6) AS treat_post,
  ROUND((s11 / n11 - s10 / n10) - (s01 / n01 - s00 / n00), 6)
    AS did_effect,
  ROUND(((s11 / n11 - s10 / n10) - (s01 / n01 - s00 / n00))
    / sqrt((ss11 - s11 * (s11 / n11)) / (n11 - 1) / n11
         + (ss10 - s10 * (s10 / n10)) / (n10 - 1) / n10
         + (ss01 - s01 * (s01 / n01)) / (n01 - 1) / n01
         + (ss00 - s00 * (s00 / n00)) / (n00 - 1) / n00), 6) AS z
FROM agg
"""


SPECS = [
    QuerySpec(
        "s_dedup_keep_best",
        s_dedup_keep_best,
        S_KEEPBEST_SQL,
        headline=True,
        doc="keep-longest survivorship over prefix-join near-dup clusters",
        tags=("dedup", "dataset-prep", "graph"),
    ),
    QuerySpec(
        "a_spearman_corr",
        a_spearman_corr,
        A_SPEARMAN_SQL,
        doc="Spearman rank corr of balance vs order count (integer ranks)",
        tags=("stats",),
    ),
    QuerySpec(
        "a_diff_in_diff",
        a_diff_in_diff,
        A_DID_SQL,
        doc="two-period diff-in-diff on md5 arms with pooled z",
        tags=("experimentation", "stats"),
    ),
]
