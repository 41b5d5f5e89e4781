"""Sixty-seventh wave: budget-greedy selection, Mann-Kendall trend,
and the global clustering coefficient.

Reference parity note: budgeted curation + nonparametric trend +
graph cohesion; every query carries an exact DuckDB oracle.

- **Budget greedy** (`s_budget_greedy`) — data acquisition under a
  token budget: rank documents by quality-per-token density (the
  wave-11 quality score over whitespace tokens), take them greedily
  while the running token total stays under 10,000 per language.
  One sort + one prefix sum; reports per-language picks, spent
  tokens, and total utility.
- **Mann-Kendall** (`a_mann_kendall`) — the nonparametric monotone-
  trend test on daily revenue: S = sum of pairwise sign agreements
  (constant-size pair scan over the 30-day rollup), variance
  n(n-1)(2n+5)/18, and the continuity-corrected Z.
- **Clustering coefficient** (`g_clustering_coefficient`) — global
  transitivity of the co-purchase graph: 3 x triangles / wedges,
  triangles by the oriented two-path join, wedges from degree
  counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import grouped_running_multi
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# s_budget_greedy
# ------------------------------------------------------------------ #


def s_budget_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-density selection under a 10k-token budget per
    language."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_toks"),
        # utility: distinct-token share (lexical density)
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks)
        ).alias("util"),
    ).filter(F.col("n_toks") > 0)
    dens = scored.select(
        "doc_id",
        "lang",
        "n_toks",
        "util",
        (F.col("util") / F.col("n_toks")).alias("density"),
    )
    # r7, window-funnel gate: lang has a fixed taxonomy, so a plain
    # per-lang running window would stream each language's whole
    # document rollup through one task; grouped_running_multi computes
    # the identical cumulative token spend distributed
    running = grouped_running_multi(
        dens,
        ["lang"],
        [F.desc("density"), F.col("doc_id")],
        {"n_toks": F.col("n_toks")},
    ).select(
        "lang",
        "n_toks",
        "util",
        F.col("grun_n_toks").alias("cum_toks"),
    ).filter(F.col("cum_toks") <= 10_000)
    return (
        running.groupBy("lang")
        .agg(
            F.count("*").alias("n_selected"),
            F.max("cum_toks").cast("long").alias("tokens_spent"),
            F.round(
                F.sum(F.col("util").cast("decimal(20,12)")).cast(
                    "double"
                ),
                6,
            ).alias("total_utility"),
        )
        .orderBy("lang")
    )


S_BUDGET_SQL = r"""
WITH scored AS (
  SELECT doc_id, lang,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                    x -> x <> '')) AS n_toks,
    CAST(len(list_distinct(list_filter(
        regexp_split_to_array(lower(trim(text)), '\s+'),
        x -> x <> ''))) AS DOUBLE)
      / len(list_filter(regexp_split_to_array(lower(trim(text)),
                                              '\s+'),
            x -> x <> '')) AS util
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(lower(trim(text)),
                                              '\s+'),
            x -> x <> '')) > 0
),
running AS (
  SELECT lang, n_toks, util,
    SUM(n_toks) OVER (PARTITION BY lang
      ORDER BY util / n_toks DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
  FROM scored
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_selected,
  CAST(MAX(cum_toks) AS BIGINT) AS tokens_spent,
  ROUND(CAST(SUM(CAST(util AS DECIMAL(20,12))) AS DOUBLE), 6)
    AS total_utility
FROM running WHERE cum_toks <= 10000
GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------------ #
# a_mann_kendall
# ------------------------------------------------------------------ #


def a_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily revenue."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): daily feeds both pairwise sides; unstaged,
    # the events rollup re-ran per side (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    daily = _stage(
        ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d")
        ).agg(
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("y")
        )
    )
    a = daily.select(F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    signs = a.join(b, F.col("d1") < F.col("d2")).select(
        F.when(F.col("y2") > F.col("y1"), 1)
        .when(F.col("y2") < F.col("y1"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    agg = signs.agg(F.count("*").alias("m"), F.sum("sgn").alias("S"))
    n = (
        (1.0 + F.sqrt(1.0 + 8.0 * F.col("m").cast("double"))) / 2.0
    )  # recover n from m = n(n-1)/2
    var = n * (n - 1.0) * (2.0 * n + 5.0) / 18.0
    s = F.col("S").cast("double")
    z = (
        F.when(s > 0, (s - 1.0) / F.sqrt(var))
        .when(s < 0, (s + 1.0) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return agg.select(
        F.col("m").cast("long").alias("n_pairs"),
        F.col("S").cast("long").alias("s_stat"),
        F.round(z, 6).alias("z"),
    )


A_MK_SQL = """
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
signs AS (
  SELECT CASE WHEN b.y > a.y THEN 1
              WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON a.d < b.d
),
agg AS (SELECT COUNT(*) AS m, SUM(sgn) AS S FROM signs)
SELECT CAST(m AS BIGINT) AS n_pairs, CAST(S AS BIGINT) AS s_stat,
  ROUND(CASE
    WHEN S > 0 THEN (CAST(S AS DOUBLE) - 1.0)
      / sqrt(((1.0 + sqrt(1.0 + 8.0 * m)) / 2.0)
        * ((1.0 + sqrt(1.0 + 8.0 * m)) / 2.0 - 1.0)
        * (2.0 * ((1.0 + sqrt(1.0 + 8.0 * m)) / 2.0) + 5.0) / 18.0)
    WHEN S < 0 THEN (CAST(S AS DOUBLE) + 1.0)
      / sqrt(((1.0 + sqrt(1.0 + 8.0 * m)) / 2.0)
        * ((1.0 + sqrt(1.0 + 8.0 * m)) / 2.0 - 1.0)
        * (2.0 * ((1.0 + sqrt(1.0 + 8.0 * m)) / 2.0) + 5.0) / 18.0)
    ELSE 0.0 END, 6) AS z
FROM agg
"""


# ------------------------------------------------------------------ #
# g_clustering_coefficient
# ------------------------------------------------------------------ #


def g_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity 3T/W of the co-purchase graph
    (co-occurrence >= 2)."""
    li = load_table(spark, sf_dir, "lineitem")
    from idn_area_etl_spark.operators.graph import co_purchase_edges

    # r8-opt: the edge build is the staged shared co-purchase
    # subtree (see co_purchase_edges) — previously re-expanded per
    # downstream consumer
    edges = co_purchase_edges(li, min_co=2)
    # triangles via the oriented two-path join (p1<p2<p3)
    e1 = edges.select(F.col("p1").alias("x"), F.col("p2").alias("y"))
    e2 = edges.select(F.col("p1").alias("y"), F.col("p2").alias("z"))
    e3 = edges.select(F.col("p1").alias("x"), F.col("p2").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count("*").alias("t"))
    )
    adj = edges.unionByName(
        edges.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    wedges = (
        adj.groupBy("p1")
        .agg(F.count("*").alias("deg"))
        .agg(
            F.sum(
                (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
            ).alias("w")
        )
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        F.col("t").cast("long").alias("n_triangles"),
        F.col("w").cast("long").alias("n_wedges"),
        F.round(
            3.0 * F.col("t").cast("double") / F.col("w"), 6
        ).alias("transitivity"),
    )


G_TRANSITIVITY_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
tri AS (
  SELECT COUNT(*) AS t
  FROM edges e1
  JOIN edges e2 ON e1.p2 = e2.p1
  JOIN edges e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
),
adj AS (
  SELECT p1, p2 FROM edges
  UNION ALL
  SELECT p2 AS p1, p1 AS p2 FROM edges
),
wedges AS (
  SELECT SUM(CAST(deg * (deg - 1) / 2 AS BIGINT)) AS w
  FROM (SELECT p1, COUNT(*) AS deg FROM adj GROUP BY p1)
)
SELECT CAST(t AS BIGINT) AS n_triangles,
  CAST(w AS BIGINT) AS n_wedges,
  ROUND(3.0 * CAST(t AS DOUBLE) / w, 6) AS transitivity
FROM tri CROSS JOIN wedges
"""


SPECS = [
    QuerySpec(
        "s_budget_greedy",
        s_budget_greedy,
        S_BUDGET_SQL,
        doc="quality-density greedy selection under a per-lang token budget",
        tags=("dataset-prep", "sampling"),
    ),
    QuerySpec(
        "a_mann_kendall",
        a_mann_kendall,
        A_MK_SQL,
        doc="Mann-Kendall monotone-trend test on daily revenue",
        tags=("timeseries", "stats"),
    ),
    QuerySpec(
        "g_clustering_coefficient",
        g_clustering_coefficient,
        G_TRANSITIVITY_SQL,
        doc="global transitivity 3T/W of the co-purchase graph",
        tags=("graph", "stats"),
    ),
]
