"""Fifty-fifth wave: perplexity quality buckets, capture-recapture,
and co-purchase edge support.

Reference parity note: data-curation + estimation + graph
extensions; every query carries an exact DuckDB oracle.

- **Quality buckets** (`d_quality_buckets`) — the CCNet policy:
  bucket documents into head/middle/tail perplexity thirds within
  each language (ntile over the wave-22 bigram-LM score with a
  unique tiebreak) and report per-bucket doc/token budgets — the
  table a curation pipeline uses to decide what to keep.
- **Capture-recapture** (`a_capture_recapture`) — Chapman's
  Lincoln-Petersen estimate of the distinct-user population from
  two deterministic md5 "capture" samples, compared against the
  true distinct count: the classic trick for estimating the size
  of a population you cannot enumerate (here fully checkable).
  Pure integer arithmetic end to end.
- **Edge support** (`g_edge_support`) — for each co-purchase edge
  (parts bought together in 3+ orders), the number of triangles it
  participates in (common-neighbor count via two adjacency joins);
  support-0 edges are local bridges.  Distribution of support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# d_quality_buckets
# ------------------------------------------------------------------ #


def d_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/middle/tail perplexity thirds per language with doc and
    token budgets."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    # r8-opt: base feeds the bigram explode AND the unigram counts;
    # bigrams feeds the LM counts AND the scoring probe; c_w feeds
    # the smoothing join AND the vocabulary size — unstaged, each
    # consumer re-ran the scan + tokenization (4 documents scans / 28
    # exchange refs in the captured plan); staged, one of each
    # (guide §2.4, same shape as d_perplexity_bigram).
    base = _stage(docs.select("doc_id", "lang", toks.alias("t")))
    bigrams = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 2 THEN"
                " cast(array() AS array<struct<w1:string,w2:string>>)"
                " ELSE transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i - 1] AS w1, t[i] AS w2)) END"
            )
        ).alias("b"),
    ).select("doc_id", "lang", "b.w1", "b.w2")
    bigrams = _stage(bigrams)
    c_bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    c_w = _stage(
        base.select(F.explode("t").alias("w")).groupBy("w").agg(
            F.count("*").alias("c_w")
        )
    )
    vocab = c_w.agg(F.count("*").alias("v"))
    nll = -F.log2(
        (F.col("c_bg") + 1.0)
        / (F.col("c_w").cast("double") + F.col("v").cast("double"))
    )
    per_doc = (
        bigrams.join(c_bg, ["w1", "w2"])
        .join(c_w.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(F.round(nll, 9).cast("decimal(28,9)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("avg_nll"),
        )
    )
    bucketed = per_doc.select(
        "lang",
        "n_bigrams",
        "avg_nll",
        F.ntile(3)
        .over(
            Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
        )
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_bigrams").cast("decimal(20,0)"))
            .cast("long")
            .alias("total_bigrams"),
            F.round(
                (
                    F.sum(F.col("avg_nll").cast("decimal(16,6)"))
                    / F.count("*")
                ).cast("double"),
                6,
            ).alias("mean_nll"),
        )
        .orderBy("lang", "bucket")
    )


D_QBUCKET_SQL = r"""
WITH base AS (
  SELECT doc_id, lang,
    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                t -> t <> '') AS t
  FROM documents
),
flat AS (
  SELECT doc_id, lang,
    unnest([t[i] for i in generate_series(1, len(t) - 1)]) AS w1,
    unnest([t[i + 1] for i in generate_series(1, len(t) - 1)]) AS w2
  FROM base
),
cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM flat GROUP BY 1, 2),
uni AS (SELECT unnest(t) AS w1 FROM base),
cw AS (SELECT w1, COUNT(*) AS c_w FROM uni GROUP BY 1),
vocab AS (SELECT COUNT(*) AS v FROM cw),
per_doc AS (
  SELECT doc_id, lang, COUNT(*) AS n_bigrams,
    ROUND(CAST(SUM(CAST(ROUND(
        -log2((c_bg + 1.0) / (CAST(c_w AS DOUBLE) + CAST(v AS DOUBLE))),
        9) AS DECIMAL(28,9))) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE), 6) AS avg_nll
  FROM flat JOIN cbg USING (w1, w2) JOIN cw USING (w1)
  CROSS JOIN vocab
  GROUP BY doc_id, lang
),
bucketed AS (
  SELECT lang, n_bigrams, avg_nll,
    NTILE(3) OVER (PARTITION BY lang ORDER BY avg_nll, doc_id)
      AS bucket
  FROM per_doc
)
SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CAST(n_bigrams AS DECIMAL(20,0))) AS BIGINT)
    AS total_bigrams,
  ROUND(CAST(SUM(CAST(avg_nll AS DECIMAL(16,6))) / COUNT(*)
             AS DOUBLE), 6) AS mean_nll
FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket
"""


# ------------------------------------------------------------------ #
# a_capture_recapture
# ------------------------------------------------------------------ #


def _uniform(prefix: str, key) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), key.cast("string"))), 1, 13
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**52))
    )


def a_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman estimator of the distinct-user count from two md5
    capture samples (p = 0.4 each), vs the true count."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    flagged = users.select(
        (_uniform("capA:", F.col("user_id")) < 0.4).cast("long").alias("a"),
        (_uniform("capB:", F.col("user_id")) < 0.4).cast("long").alias("b"),
    )
    agg = flagged.agg(
        F.count("*").alias("true_n"),
        F.sum("a").alias("n1"),
        F.sum("b").alias("n2"),
        F.sum(F.col("a") * F.col("b")).alias("m"),
    )
    est = (
        (F.col("n1") + 1) * (F.col("n2") + 1)
    )
    return agg.select(
        F.col("true_n").cast("long").alias("true_n"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("m").cast("long").alias("m"),
        (
            (est - F.pmod(est, F.col("m") + 1)) / (F.col("m") + 1) - 1
        )
        .cast("long")
        .alias("chapman_est"),
    )


A_CAPTURE_SQL = """
WITH users AS (SELECT DISTINCT user_id FROM events),
flagged AS (
  SELECT
    CASE WHEN CAST(('0x' || substring(md5('capA:' ||
        CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT)
        / 4503599627370496.0 < 0.4 THEN 1 ELSE 0 END AS a,
    CASE WHEN CAST(('0x' || substring(md5('capB:' ||
        CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT)
        / 4503599627370496.0 < 0.4 THEN 1 ELSE 0 END AS b
  FROM users
)
SELECT CAST(COUNT(*) AS BIGINT) AS true_n,
  CAST(SUM(a) AS BIGINT) AS n1,
  CAST(SUM(b) AS BIGINT) AS n2,
  CAST(SUM(a * b) AS BIGINT) AS m,
  CAST((SUM(a) + 1) * (SUM(b) + 1) // (SUM(a * b) + 1) - 1 AS BIGINT)
    AS chapman_est
FROM flagged
"""


# ------------------------------------------------------------------ #
# g_edge_support
# ------------------------------------------------------------------ #


def g_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle support per co-purchase edge (co-occurrence >= 3
    orders); distribution of support values."""
    li = load_table(spark, sf_dir, "lineitem")
    from idn_area_etl_spark.operators.graph import co_purchase_edges

    # r8-opt: the edge build is the staged shared co-purchase
    # subtree (see co_purchase_edges) — previously re-expanded per
    # downstream consumer
    edges = co_purchase_edges(li, min_co=3)
    adj = edges.unionByName(
        edges.select(
            F.col("p2").alias("p1"), F.col("p1").alias("p2")
        )
    )
    n1 = adj.select(F.col("p1").alias("ea"), F.col("p2").alias("x"))
    n2 = adj.select(F.col("p1").alias("eb"), F.col("p2").alias("x"))
    # count common neighbors per edge via inner joins + group
    common = (
        edges.select(F.col("p1").alias("ea"), F.col("p2").alias("eb"))
        .join(n1, "ea")
        .join(n2, ["eb", "x"])
        .groupBy("ea", "eb")
        .agg(F.count("*").alias("support"))
    )
    dist = (
        edges.select(F.col("p1").alias("ea"), F.col("p2").alias("eb"))
        .join(common, ["ea", "eb"], "left")
        .select(F.coalesce("support", F.lit(0)).alias("support"))
        .groupBy("support")
        .agg(F.count("*").alias("n_edges"))
        .orderBy("support")
    )
    return dist


G_SUPPORT_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
adj AS (
  SELECT p1, p2 FROM edges
  UNION ALL
  SELECT p2 AS p1, p1 AS p2 FROM edges
),
common AS (
  SELECT e.p1 AS ea, e.p2 AS eb, COUNT(*) AS support
  FROM edges e
  JOIN adj n1 ON n1.p1 = e.p1
  JOIN adj n2 ON n2.p1 = e.p2 AND n2.p2 = n1.p2
  GROUP BY 1, 2
)
SELECT COALESCE(support, 0) AS support,
  CAST(COUNT(*) AS BIGINT) AS n_edges
FROM edges LEFT JOIN common ON p1 = ea AND p2 = eb
GROUP BY 1 ORDER BY 1
"""


SPECS = [
    QuerySpec(
        "d_quality_buckets",
        d_quality_buckets,
        D_QBUCKET_SQL,
        doc="head/mid/tail perplexity thirds per language (CCNet policy)",
        tags=("text", "dataset-prep"),
    ),
    QuerySpec(
        "a_capture_recapture",
        a_capture_recapture,
        A_CAPTURE_SQL,
        doc="Chapman capture-recapture population estimate vs truth",
        tags=("stats", "estimation"),
    ),
    QuerySpec(
        "g_edge_support",
        g_edge_support,
        G_SUPPORT_SQL,
        doc="triangle support distribution over co-purchase edges",
        tags=("graph",),
    ),
]
