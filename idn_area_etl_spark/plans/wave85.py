"""Eighty-fifth wave: rank-biserial effect size, quarter-end hockey
sticks, and cluster-aware splitting.

Reference parity note: nonparametric effect sizes + sales pathology +
leakage-free split tooling; every query carries an exact DuckDB
oracle.

- **Rank-biserial** (`a_rank_biserial`) — the effect size behind the
  Mann-Whitney test: r = 2U/(n1 n2) - 1 on user total value across
  md5 arms, U from tie-aware average ranks (the wave-32 rank
  machinery pointed at a two-sample contrast).
- **Quarter hockey stick** (`q_quarter_hockey`) — the sales-
  linearity audit: per quarter, the share of revenue booked in the
  final month; chronic > 40% shares flag pull-in/sandbagging
  pathologies.
- **Cluster-aware split** (`s_cluster_aware_split`) — the leakage
  fix for near-dup corpora: assign train/test by the NEAR-DUP
  CLUSTER's minimum doc id (connected components over the exact
  prefix-join edges), so no near-dup pair ever crosses the split;
  reports the cross-split pair count for the naive doc-hash split
  vs the cluster split (the latter pinned to zero).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import prefix_jaccard_join
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.graph import connected_components
from idn_area_etl_spark.operators.ranks import global_running_sum
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_rank_biserial
# ------------------------------------------------------------------ #


def a_rank_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biserial effect size of md5 arm on user total value."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("tv")
    )
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
    armed = per_user.select(arm.alias("g"), "tv")
    rolled = armed.groupBy("tv").agg(
        F.count("*").alias("n"), F.sum("g").alias("n1g")
    )
    # distinct-tv cardinality is unbounded — distributed running sum
    # (inclusive minus own group), not a single-partition window
    ranked = global_running_sum(
        rolled, [F.col("tv").asc()], F.col("n"), out="cum_incl"
    ).select(
        "n",
        "n1g",
        (
            (F.col("cum_incl") - F.col("n")).cast("double")
            + (F.col("n").cast("double") + 1.0) / 2.0
        ).alias("avg_rank"),
    )
    sums = ranked.agg(
        F.sum("n").alias("ntot"),
        F.sum("n1g").alias("n1"),
        F.sum(
            (F.col("n1g").cast("double") * F.col("avg_rank")).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("r1"),
    )
    n1 = F.col("n1").cast("double")
    n0 = (F.col("ntot") - F.col("n1")).cast("double")
    u1 = F.col("r1") - n1 * (n1 + 1.0) / 2.0
    return sums.select(
        F.col("n1").cast("long").alias("n_treat"),
        (F.col("ntot") - F.col("n1")).cast("long").alias("n_control"),
        F.round(u1, 4).alias("u_stat"),
        F.round(2.0 * u1 / (n1 * n0) - 1.0, 6).alias("rank_biserial"),
    )


A_RB_SQL = """
WITH per_user AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(27,6))) AS tv
  FROM events GROUP BY user_id
),
armed AS (
  SELECT CAST(('0x' || substring(md5('arm:' ||
      CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g, tv
  FROM per_user
),
rolled AS (
  SELECT tv, COUNT(*) AS n, SUM(g) AS n1g FROM armed GROUP BY tv
),
ranked AS (
  SELECT n, n1g,
    CAST(COALESCE(SUM(n) OVER (ORDER BY tv
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS DOUBLE) + (CAST(n AS DOUBLE) + 1.0) / 2.0 AS avg_rank
  FROM rolled
),
sums AS (
  SELECT SUM(n) AS ntot, SUM(n1g) AS n1,
    CAST(SUM(CAST(CAST(n1g AS DOUBLE) * avg_rank AS DECIMAL(28,6)))
         AS DOUBLE) AS r1
  FROM ranked
)
SELECT CAST(n1 AS BIGINT) AS n_treat,
  CAST(ntot - n1 AS BIGINT) AS n_control,
  ROUND(r1 - CAST(n1 AS DOUBLE) * (n1 + 1.0) / 2.0, 4) AS u_stat,
  ROUND(2.0 * (r1 - CAST(n1 AS DOUBLE) * (n1 + 1.0) / 2.0)
        / (CAST(n1 AS DOUBLE) * (ntot - n1)) - 1.0, 6)
    AS rank_biserial
FROM sums
"""


# ------------------------------------------------------------------ #
# q_quarter_hockey
# ------------------------------------------------------------------ #


def q_quarter_hockey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each quarter's revenue booked in its final month."""
    orders = load_table(spark, sf_dir, "orders")
    per_q = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qt"),
        F.month("o_orderdate").alias("mo"),
        F.col("o_totalprice").cast("decimal(27,2)").alias("amt"),
    ).groupBy("yr", "qt").agg(
        F.sum("amt").alias("q_rev"),
        F.sum(
            F.when(F.pmod(F.col("mo") - 1, F.lit(3)) == 2, F.col("amt"))
            .otherwise(F.lit(0).cast("decimal(27,2)"))
        ).alias("m3_rev"),
    )
    return per_q.select(
        "yr",
        "qt",
        F.col("q_rev").cast("double").alias("q_rev"),
        F.round(
            F.col("m3_rev").cast("double")
            / F.col("q_rev").cast("double"),
            6,
        ).alias("final_month_share"),
    ).orderBy("yr", "qt")


Q_HOCKEY_SQL = """
WITH per_q AS (
  SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qt,
    SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS q_rev,
    SUM(CASE WHEN (month(o_orderdate) - 1) % 3 = 2
        THEN CAST(o_totalprice AS DECIMAL(27,2))
        ELSE CAST(0 AS DECIMAL(27,2)) END) AS m3_rev
  FROM orders GROUP BY 1, 2
)
SELECT yr, qt, CAST(q_rev AS DOUBLE) AS q_rev,
  ROUND(CAST(m3_rev AS DOUBLE) / CAST(q_rev AS DOUBLE), 6)
    AS final_month_share
FROM per_q ORDER BY yr, qt
"""


# ------------------------------------------------------------------ #
# s_cluster_aware_split
# ------------------------------------------------------------------ #


def s_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs crossing the naive doc-hash split vs the
    cluster-keyed split (the latter must be zero)."""
    docs = load_table(spark, sf_dir, "documents")
    # r8-opt: pairs is staged — it feeds the component computation
    # AND the final crossing-pair join; assigned below is staged — it
    # feeds both join sides (a1/a2).  Unstaged, the prefix-join
    # pipeline re-ran per consumer (7 sort-merge joins / 16 exchanges
    # in the captured plan).
    pairs = _stage(
        prefix_jaccard_join(docs, n=5, tau_num=4, tau_den=5).select(
            "doc1", "doc2"
        )
    )
    comp = connected_components(pairs, "doc1", "doc2")
    labels = docs.select("doc_id").join(
        comp.select(F.col("node").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster"),
    )

    def test_flag(key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("cs:"), key_col.cast("string"))
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(2**52))
            < 0.1
        )

    assigned = _stage(
        labels.select(
            "doc_id",
            test_flag(F.col("doc_id")).alias("doc_test"),
            test_flag(F.col("cluster")).alias("cluster_test"),
        )
    )
    a1 = assigned.select(
        F.col("doc_id").alias("doc1"),
        F.col("doc_test").alias("t1"),
        F.col("cluster_test").alias("c1"),
    )
    a2 = assigned.select(
        F.col("doc_id").alias("doc2"),
        F.col("doc_test").alias("t2"),
        F.col("cluster_test").alias("c2"),
    )
    return (
        pairs.join(a1, "doc1")
        .join(a2, "doc2")
        .agg(
            F.count("*").cast("long").alias("n_near_dup_pairs"),
            F.sum((F.col("t1") != F.col("t2")).cast("long"))
            .cast("long")
            .alias("naive_cross_pairs"),
            F.sum((F.col("c1") != F.col("c2")).cast("long"))
            .cast("long")
            .alias("cluster_cross_pairs"),
        )
    )


S_CSPLIT_SQL = r"""
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
labels AS (
  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
assigned AS (
  SELECT doc_id,
    CAST(('0x' || substring(md5('cs:' || CAST(doc_id AS VARCHAR)),
        1, 13)) AS UBIGINT) / 4503599627370496.0 < 0.1 AS doc_test,
    CAST(('0x' || substring(md5('cs:' || CAST(cluster AS VARCHAR)),
        1, 13)) AS UBIGINT) / 4503599627370496.0 < 0.1
      AS cluster_test
  FROM labels
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_near_dup_pairs,
  CAST(SUM(CASE WHEN a1.doc_test <> a2.doc_test THEN 1 ELSE 0 END)
       AS BIGINT) AS naive_cross_pairs,
  CAST(SUM(CASE WHEN a1.cluster_test <> a2.cluster_test
       THEN 1 ELSE 0 END) AS BIGINT) AS cluster_cross_pairs
FROM edges
JOIN assigned a1 ON edges.d1 = a1.doc_id
JOIN assigned a2 ON edges.d2 = a2.doc_id
"""


SPECS = [
    QuerySpec(
        "a_rank_biserial",
        a_rank_biserial,
        A_RB_SQL,
        doc="rank-biserial effect size (Mann-Whitney U) across md5 arms",
        tags=("stats", "experimentation"),
    ),
    QuerySpec(
        "q_quarter_hockey",
        q_quarter_hockey,
        Q_HOCKEY_SQL,
        doc="final-month share of quarterly revenue (hockey-stick audit)",
        tags=("bi", "finance"),
    ),
    QuerySpec(
        "s_cluster_aware_split",
        s_cluster_aware_split,
        S_CSPLIT_SQL,
        doc="cluster-keyed split: zero near-dup pairs cross train/test",
        tags=("dedup", "ml-eval", "dataset-prep"),
    ),
]
