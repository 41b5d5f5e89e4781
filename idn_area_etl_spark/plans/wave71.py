"""Seventy-first wave: growth accounting, heavy-tail index, and
vocabulary overlap.

Reference parity note: product growth + tail-risk + cross-corpus
diagnostics; every query carries an exact DuckDB oracle.

- **Growth accounting** (`q_growth_accounting`) — the canonical WAU
  decomposition: per ISO week, actives split into new (first week),
  retained (active previous week) and resurrected (gap of 2+
  weeks), plus churned (active previous week, absent now).  One
  per-user-week dedup + lag window; the identity
  actives = new + retained + resurrected is pinned in tests.
- **Hill tail index** (`a_hill_tail_index`) — heavy-tailedness of
  order totals: the Hill estimator over the top k = 100 order
  statistics, alpha = 1 / mean(ln(x_i / x_(k+1))); small alpha =
  fat tail.  One sort-limit + exact decimal log sums.
- **Vocabulary overlap** (`d_vocab_overlap`) — Szymkiewicz-Simpson
  overlap |A n B| / min(|A|, |B|) for every language pair's
  distinct-token vocabulary: the cross-lingual contamination
  indicator for shared-script corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# q_growth_accounting
# ------------------------------------------------------------------ #


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting over user activity."""
    ev = load_table(spark, sf_dir, "events")
    # r8-opt: the distinct (user, week) activity list feeds four
    # consumers (status tagging, churn probe both sides, max week) —
    # unstaged, each re-ran the events scan + distinct (4 scans / 22
    # exchange refs in the captured plan); staged, one of each
    # (guide §2.4).
    uw = _stage(
        ev.select(
            "user_id", F.weekofyear(F.to_date("ts")).alias("wk")
        ).distinct()
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    tagged = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
    ).select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    actives = tagged.groupBy("wk").agg(
        F.count("*").alias("actives"),
        F.sum((F.col("status") == "new").cast("long")).alias("new"),
        F.sum((F.col("status") == "retained").cast("long")).alias(
            "retained"
        ),
        F.sum((F.col("status") == "resurrected").cast("long")).alias(
            "resurrected"
        ),
    )
    # churned in week w: active in w-1, absent in w
    prev = uw.select(
        F.col("user_id"), (F.col("wk") + 1).alias("wk")
    )
    churned = prev.join(uw, ["user_id", "wk"], "left_anti").groupBy(
        "wk"
    ).agg(F.count("*").alias("churned"))
    maxwk = uw.agg(F.max("wk").alias("mx"))
    return (
        actives.join(churned, "wk", "left")
        .crossJoin(F.broadcast(maxwk))
        .filter(F.col("wk") <= F.col("mx"))
        .select(
            "wk",
            "actives",
            "new",
            "retained",
            "resurrected",
            F.coalesce("churned", F.lit(0)).alias("churned"),
        )
        .orderBy("wk")
    )


Q_GROWTH_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id, weekofyear(CAST(ts AS DATE)) AS wk
  FROM events
),
tagged AS (
  SELECT wk,
    CASE WHEN prev_wk IS NULL THEN 'new'
         WHEN prev_wk = wk - 1 THEN 'retained'
         ELSE 'resurrected' END AS status
  FROM (
    SELECT user_id, wk,
      LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
    FROM uw
  )
),
actives AS (
  SELECT wk, COUNT(*) AS actives,
    SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS new,
    SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS retained,
    SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
      AS resurrected
  FROM tagged GROUP BY wk
),
churned AS (
  SELECT p.wk, COUNT(*) AS churned
  FROM (SELECT user_id, wk + 1 AS wk FROM uw) p
  ANTI JOIN uw ON p.user_id = uw.user_id AND p.wk = uw.wk
  GROUP BY p.wk
),
maxwk AS (SELECT MAX(wk) AS mx FROM uw)
SELECT a.wk,
  CAST(actives AS BIGINT) AS actives,
  CAST(new AS BIGINT) AS new,
  CAST(retained AS BIGINT) AS retained,
  CAST(resurrected AS BIGINT) AS resurrected,
  CAST(COALESCE(churned, 0) AS BIGINT) AS churned
FROM actives a
LEFT JOIN churned c ON a.wk = c.wk
CROSS JOIN maxwk
WHERE a.wk <= mx
ORDER BY a.wk
"""


# ------------------------------------------------------------------ #
# a_hill_tail_index
# ------------------------------------------------------------------ #

_K = 100


def a_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-total tail index over the top 100
    order statistics."""
    orders = load_table(spark, sf_dir, "orders")
    # r9-opt (guide §2.4): ranked feeds the threshold probe and the
    # log-excess pass; unstaged, the orders scan + global top-(K+1)
    # window re-ran per consumer (2 duplicate scans).  ≤K+1-row
    # staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    ranked = _stage(
        orders.select(
            F.col("o_totalprice").cast("double").alias("x"),
            F.row_number()
            .over(Window.orderBy(F.desc("o_totalprice"), "o_orderkey"))
            .alias("rnk"),
        ).filter(F.col("rnk") <= _K + 1)
    )
    xk1 = ranked.filter(F.col("rnk") == _K + 1).select(
        F.col("x").alias("xk")
    )
    logs = (
        ranked.filter(F.col("rnk") <= _K)
        .crossJoin(F.broadcast(xk1))
        .select(
            F.log(F.col("x") / F.col("xk"))
            .cast("decimal(27,12)")
            .alias("lr")
        )
    )
    return logs.agg(
        F.count("*").cast("long").alias("k"),
        F.round(
            (F.sum("lr") / F.count("*")).cast("double"), 6
        ).alias("mean_log_excess"),
        F.round(
            F.count("*").cast("double")
            / F.sum("lr").cast("double"),
            6,
        ).alias("hill_alpha"),
    )


A_HILL_SQL = f"""
WITH ranked AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x,
    ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
      AS rnk
  FROM orders
),
xk1 AS (SELECT x AS xk FROM ranked WHERE rnk = {_K + 1}),
logs AS (
  SELECT CAST(ln(x / xk) AS DECIMAL(27,12)) AS lr
  FROM ranked CROSS JOIN xk1
  WHERE rnk <= {_K}
)
SELECT CAST(COUNT(*) AS BIGINT) AS k,
  ROUND(CAST(SUM(lr) / COUNT(*) AS DOUBLE), 6) AS mean_log_excess,
  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(lr) AS DOUBLE), 6)
    AS hill_alpha
FROM logs
"""


# ------------------------------------------------------------------ #
# d_vocab_overlap
# ------------------------------------------------------------------ #


def d_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szymkiewicz-Simpson vocabulary overlap per language pair."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    # r8-opt: the distinct per-lang vocabulary feeds three consumers
    # (sizes + both sides of the overlap self-join) — unstaged, each
    # re-ran the scan + tokenization + distinct (4 documents scans /
    # 30 exchange refs in the captured plan); staged, one of each
    # (guide §2.4).
    vocab = _stage(
        docs.select("lang", F.explode(toks).alias("w")).distinct()
    )
    sizes = vocab.groupBy("lang").agg(F.count("*").alias("nv"))
    a = vocab.select(F.col("lang").alias("la"), "w")
    b = vocab.select(F.col("lang").alias("lb"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.count("*").alias("ninter"))
    )
    sa = sizes.select(F.col("lang").alias("la"), F.col("nv").alias("na"))
    sb = sizes.select(F.col("lang").alias("lb"), F.col("nv").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .select(
            "la",
            "lb",
            "ninter",
            F.round(
                F.col("ninter").cast("double")
                / F.least("na", "nb"),
                6,
            ).alias("overlap_coef"),
        )
        .orderBy("la", "lb")
    )


D_OVERLAP_SQL = r"""
WITH vocab AS (
  SELECT DISTINCT lang, unnest(
    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x <> '')) AS w
  FROM documents
),
sizes AS (SELECT lang, COUNT(*) AS nv FROM vocab GROUP BY lang),
inter AS (
  SELECT a.lang AS la, b.lang AS lb, COUNT(*) AS ninter
  FROM vocab a JOIN vocab b ON a.w = b.w AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT la, lb, CAST(ninter AS BIGINT) AS ninter,
  ROUND(CAST(ninter AS DOUBLE) / LEAST(sa.nv, sb.nv), 6)
    AS overlap_coef
FROM inter
JOIN sizes sa ON la = sa.lang
JOIN sizes sb ON lb = sb.lang
ORDER BY la, lb
"""


SPECS = [
    QuerySpec(
        "q_growth_accounting",
        q_growth_accounting,
        Q_GROWTH_SQL,
        doc="weekly new/retained/resurrected/churned decomposition",
        tags=("events", "engagement", "bi"),
    ),
    QuerySpec(
        "a_hill_tail_index",
        a_hill_tail_index,
        A_HILL_SQL,
        doc="Hill tail-index estimator over top-100 order totals",
        tags=("stats",),
    ),
    QuerySpec(
        "d_vocab_overlap",
        d_vocab_overlap,
        D_OVERLAP_SQL,
        doc="Szymkiewicz-Simpson vocab overlap per language pair",
        tags=("text", "dataset-prep"),
    ),
]
