"""Sixth wave: cluster-level fuzzy dedup, relevance scoring, cohort
analytics, and upsert/merge — the remaining training-data-pipeline
shapes.

- **Near-dup clustering**: candidate edges (blocked Jaccard ≥ 0.5,
  the exact-similarity twin of the MinHash-LSH path) → distributed
  connected components (hash-min + pointer jumping,
  ``operators/graph.py``) → one representative per cluster.  This is
  the step that turns *pairs* into *the set of docs to drop*; the
  DuckDB oracle computes the same fixpoint with ``WITH RECURSIVE``
  reachability.
- **TF-IDF top terms**: explode → two hash aggregations (term
  frequency, document frequency) → broadcast joins → per-doc top-3
  window.  The df/idf side is tiny (vocabulary) so both joins
  broadcast; the only O(corpus) shuffle is the (doc, term) agg.
- **Cohort retention**: the classic week-offset retention matrix —
  first-activity cohort per user, distinct activity joined back.
- **Upsert / latest-wins merge**: CDC-style MERGE without a table
  format — union versions, one window on the key, keep version-max.
  At scale this is one shuffle on the merge key (exactly what
  Delta/Iceberg MERGE compiles to for full-overlap updates).
- **Value histogram**: fixed-width binning via row-local bucket
  arithmetic — no UDF, bucket id is the shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import jaccard_edges
from idn_area_etl_spark.operators.graph import connected_components
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


def d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup clusters: connected components over Jaccard≥0.5
    candidate edges; ``is_rep=1`` marks the doc to keep per cluster.

    Reference analogue: none (SURVEY §2.3 — the reference has no
    joins or graph ops); this is the LLM-pipeline extension that
    makes pairwise near-dup output actionable.
    """
    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(jaccard_edges(docs, threshold=0.5), "doc_a", "doc_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).cast("int").alias("is_rep"),
        )
    )


D_DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, CAST(length(text) // 100 AS INT) AS len_band,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                t -> t <> '') AS t
  FROM documents
  WHERE length(text) >= 3
),
sh AS (
  SELECT doc_id, lang, len_band,
    list_distinct([array_to_string(list_slice(t, i, i + 2), ' ')
                   for i in generate_series(1, greatest(1, len(t) - 2))])
      AS shingles
  FROM toks
),
edges AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.len_band = b.len_band AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.5
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION
  SELECT doc_b AS a, doc_a AS b FROM edges
),
reach(node, lab) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT s.a, r.lab FROM sym s JOIN reach r ON s.b = r.node
),
comp AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id
)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
  CAST(CASE WHEN c.node = c.cluster_id THEN 1 ELSE 0 END AS INT) AS is_rep
FROM comp c JOIN sizes s USING (cluster_id)
ORDER BY doc_id
"""


def d_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (docs 0-9).

    Scale: one (doc, term) hash agg over the corpus; document
    frequency and the corpus size are vocabulary-sized → broadcast
    joins; the top-k window partitions by doc_id (no global sort).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("term"),
    )
    # r9-opt (guide §2.4): tf feeds the document-frequency rollup and
    # the scoring join; unstaged, the corpus tokenize + (doc, term)
    # agg re-ran per consumer (1 duplicate corpus scan).  The
    # n_docs count keeps its own scan deliberately: a count-star
    # parquet read touches only footers, while staging the raw text
    # to avoid it would materialize the whole corpus.
    tf = _stage(
        toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_raw"), F.asc("term"))
    return (
        tf.filter(F.col("doc_id") < 10)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score_raw", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.round("score_raw", 6).alias("tf_idf"), "rnk")
        .orderBy("doc_id", "rnk")
    )


D_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS score_raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE tf.doc_id < 10
)
SELECT doc_id, term, ROUND(score_raw, 6) AS tf_idf, rnk
FROM (
  SELECT doc_id, term, score_raw,
    CAST(row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_raw DESC, term) AS INT) AS rnk
  FROM scored
)
WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events stream.

    Scale: distinct (user, day) prunes to one row per active day;
    the first-activity agg and the join both shuffle on user_id only;
    the final matrix is O(weeks²) rows.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    firsts = days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        days.join(firsts, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_day")).cast("date").alias("cohort_week"),
            F.floor(F.datediff(F.col("day"), F.col("first_day")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


Q_COHORT_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
firsts AS (
  SELECT user_id, MIN(day) AS first_day FROM days GROUP BY user_id
),
cells AS (
  SELECT DISTINCT d.user_id,
    date_trunc('week', f.first_day) AS cohort_week,
    CAST(date_diff('day', f.first_day, d.day) // 7 AS INT) AS week_offset
  FROM days d JOIN firsts f USING (user_id)
)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM cells
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


def q_merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-wins MERGE: apply an update batch (every 7th
    order re-priced +10, status 'U') onto the base table, then
    summarize per status.

    Scale: union is free (no shuffle); the merge itself is one
    ``row_number`` window shuffle on the merge key — the same
    physical shape Delta/Iceberg MERGE produces for full-overlap
    update sets.  No table format needed for the semantics.
    """
    # r9-opt (guide §2.4): the projection feeds the base leg and the
    # synthetic update batch; unstaged, the orders scan re-ran per
    # union leg (2 duplicate scans).
    orders = _stage(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
    )
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("version")
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    latest = (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        latest.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


Q_MERGE_SQL = """
WITH versions AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
  UNION ALL
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 10.0, 2 AS version
  FROM orders WHERE o_orderkey % 7 = 0
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC) AS rn
    FROM versions
  ) WHERE rn = 1
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_price
FROM latest
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (bin width 5).

    Scale: the bucket id is a row-local expression, so the whole query
    is one map-side-combined hash agg — the minimal distributed
    histogram.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 5).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(24,6)"))
            .cast("double")
            .alias("total_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("bucket")
    )


Q_HISTOGRAM_SQL = """
SELECT CAST(floor(value / 5) AS INT) AS bucket,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS total_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value
FROM events
GROUP BY bucket
ORDER BY bucket
"""


SPECS = [
    QuerySpec("d_dedup_clusters", d_dedup_clusters, D_DEDUP_CLUSTERS_SQL,
              headline=True,
              doc="connected-components fuzzy-dedup clusters",
              tags=("dedup", "graph")),
    QuerySpec("d_tfidf_top_terms", d_tfidf_top_terms, D_TFIDF_SQL,
              doc="per-doc top-3 TF-IDF terms", tags=("text",)),
    QuerySpec("q_cohort_retention", q_cohort_retention, Q_COHORT_SQL,
              doc="weekly cohort retention matrix", tags=("events",)),
    QuerySpec("q_merge_upsert_latest", q_merge_upsert_latest, Q_MERGE_SQL,
              doc="latest-wins CDC merge + summary", tags=("merge",)),
    QuerySpec("q_value_histogram", q_value_histogram, Q_HISTOGRAM_SQL,
              doc="fixed-width value histogram", tags=("stats",)),
]
