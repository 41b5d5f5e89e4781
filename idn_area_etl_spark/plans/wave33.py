"""Thirty-third wave: BM25 ranked retrieval, inverted-index stats,
snapshot diffing, and group-mean imputation.

Reference parity note: engine-native text/IR + ETL-maintenance ops;
every query carries an exact DuckDB oracle.

- **BM25 search** (`d_bm25_search`) — rank documents for a fixed
  query ("lorem ipsum data") with Okapi BM25 (k1=1.2, b=0.75):
  term frequencies and document lengths are row-local, document
  frequencies and the corpus-average length are two tiny broadcast
  aggregates, the score is a per-row double expression summed over
  the (few) query terms.  The 100 TB shape: one (doc, term) agg for
  tf, a broadcast for idf — no global index structure needed to
  serve a query batch.
- **Inverted-index stats** (`d_inverted_index_stats`) — the posting-
  list build behind BM25: per-term document frequency, total term
  frequency, and the smallest 3 doc ids of the posting (row-local
  sort of a collected group — bounded by the posting's doc count;
  for web-scale terms you'd cap with slice, which is exactly what
  the query does).  Top-15 terms by df.
- **Snapshot diff** (`q_snapshot_diff`) — ETL regression diffing:
  compare the orders table's first-half and second-half date ranges
  keyed by customer: added / removed / changed-spend counts via one
  full outer join on the rollups.  At scale this is THE cheap
  correctness check between pipeline versions (joins two rollups,
  never raw facts twice... the rollups ARE one scan each).
- **Group-mean imputation** (`q_impute_missing`) — classic prep op:
  deterministically mask ~10% of event values (md5 bucket — the
  mask is reproducible), impute with the event-type mean of the
  REMAINING values (broadcast), report per-type imputed counts and
  the before/after mean shift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.sketch import md5_bucket
from idn_area_etl_spark.operators.text import tokens_expr
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# d_bm25_search
# ------------------------------------------------------------------ #

BM25_QUERY_TERMS = ["lorem", "ipsum", "data"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10


def d_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking of documents for a fixed term query."""
    from idn_area_etl_spark.operators.stage import _stage
    from idn_area_etl_spark.plans.wave44 import doc_token_counts

    docs = load_table(spark, sf_dir, "documents")
    # r8-opt: doc length and term frequency both derive from the
    # per-document token counts, which doc_token_counts computes
    # ROW-LOCALLY (sort + run-length encode the token array — same
    # tokenizer, no shuffle; equality with explode → groupBy → count
    # is pinned by the wave44 tests, and the BM25 values stay pinned
    # against the from-raw-text Python reference in
    # test_plans_wave33).  Unstaged, doc_len / tf / corpus
    # each re-ran the documents scan + tokenization (4 scans / 28
    # exchange refs in the captured plan); staged, one scan and the
    # rollup is distinct-(doc, term) scale instead of occurrence
    # scale on BOTH downstream aggregates (guide §2.3, §2.4).
    tok = _stage(doc_token_counts(docs).select("doc_id", "w", "cnt"))
    doc_len = tok.groupBy("doc_id").agg(F.sum("cnt").alias("dl"))
    corpus = doc_len.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("dl").cast("decimal(20,0)")).alias("total_len"),
    )
    tf = tok.filter(F.col("w").isin(BM25_QUERY_TERMS)).select(
        "doc_id", F.col("w").alias("term"), F.col("cnt").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df_, "term")
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    nd = F.col("n_docs").cast("double")
    idf = F.log(
        (nd - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    avgdl = F.col("total_len").cast("double") / nd
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    term_score = (
        idf
        * (tfd * (BM25_K1 + 1.0))
        / (tfd + BM25_K1 * (1.0 - BM25_B + BM25_B * dld / avgdl))
    )
    return (
        scored.select(
            "doc_id", term_score.cast("decimal(24,12)").alias("ts")
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("ts").cast("double"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       t -> t <> '')) AS term
  FROM documents
),
doc_len AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
),
corpus AS (
  SELECT COUNT(*) AS n_docs,
    SUM(CAST(dl AS DECIMAL(20,0))) AS total_len
  FROM doc_len
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ({terms}) GROUP BY doc_id, term
),
dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT t.doc_id,
    CAST(
      LN((CAST(c.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
      * (CAST(t.tf AS DOUBLE) * ({BM25_K1} + 1.0))
      / (CAST(t.tf AS DOUBLE)
         + {BM25_K1} * (1.0 - {BM25_B}
            + {BM25_B} * CAST(l.dl AS DOUBLE)
              / (CAST(c.total_len AS DOUBLE)
                 / CAST(c.n_docs AS DOUBLE))))
      AS DECIMAL(24,12)) AS ts
  FROM tf t
  JOIN dfq d USING (term)
  JOIN doc_len l USING (doc_id)
  CROSS JOIN corpus c
)
SELECT doc_id, ROUND(CAST(SUM(ts) AS DOUBLE), 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOP_K}
"""


# ------------------------------------------------------------------ #
# d_inverted_index_stats
# ------------------------------------------------------------------ #

INDEX_TOP_TERMS = 15
POSTING_SAMPLE = 3


def d_inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list stats: per-term df, total tf, smallest 3 doc ids."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_expr(F.col("text"))).alias("term")
    )
    per_doc = toks.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf")
    )
    return (
        per_doc.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum(F.col("tf").cast("decimal(20,0)"))
            .cast("long")
            .alias("total_tf"),
            F.array_join(
                F.slice(
                    F.array_sort(F.collect_list("doc_id")),
                    1,
                    POSTING_SAMPLE,
                ),
                ",",
            ).alias("first_docs"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(INDEX_TOP_TERMS)
    )


D_INDEX_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       t -> t <> '')) AS term
  FROM documents
),
per_doc AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY term, doc_id
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
  CAST(SUM(CAST(tf AS DECIMAL(20,0))) AS BIGINT) AS total_tf,
  array_to_string(list_sort(list(doc_id))[1:{POSTING_SAMPLE}], ',')
    AS first_docs
FROM per_doc GROUP BY term
ORDER BY df DESC, term
LIMIT {INDEX_TOP_TERMS}
"""


# ------------------------------------------------------------------ #
# q_snapshot_diff
# ------------------------------------------------------------------ #

SNAPSHOT_SPLIT = "1998-05-01"


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff the per-customer spend rollups of two order snapshots
    (before/after the split date): added / removed / changed / same."""
    o = load_table(spark, sf_dir, "orders")
    spend = F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
    a = (
        o.filter(F.to_date("o_orderdate") < SNAPSHOT_SPLIT)
        .groupBy("o_custkey")
        .agg(spend.alias("spend_a"))
    )
    b = (
        o.filter(F.to_date("o_orderdate") >= SNAPSHOT_SPLIT)
        .groupBy("o_custkey")
        .agg(spend.alias("spend_b"))
    )
    joined = a.join(b, "o_custkey", "full_outer")
    status = (
        F.when(F.col("spend_a").isNull(), F.lit("added"))
        .when(F.col("spend_b").isNull(), F.lit("removed"))
        .when(F.col("spend_a") != F.col("spend_b"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("status")
    )


Q_SNAPDIFF_SQL = f"""
WITH a AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS spend_a
  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '{SNAPSHOT_SPLIT}'
  GROUP BY 1
),
b AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS spend_b
  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '{SNAPSHOT_SPLIT}'
  GROUP BY 1
)
SELECT CASE
    WHEN spend_a IS NULL THEN 'added'
    WHEN spend_b IS NULL THEN 'removed'
    WHEN spend_a <> spend_b THEN 'changed'
    ELSE 'same' END AS status,
  CAST(COUNT(*) AS BIGINT) AS n_customers
FROM a FULL OUTER JOIN b USING (o_custkey)
GROUP BY 1 ORDER BY status
"""


# ------------------------------------------------------------------ #
# q_impute_missing
# ------------------------------------------------------------------ #

IMPUTE_MASK_BUCKETS = 10  # mask bucket 0 → ~10% missing


def q_impute_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask ~10% of values deterministically, impute with the
    event-type mean of the rest, report counts + mean shift."""
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "event_type",
        "value",
        (md5_bucket(F.col("event_id"), "mask:", IMPUTE_MASK_BUCKETS) == 0)
        .alias("is_missing"),
    )
    means = (
        masked.filter(~F.col("is_missing"))
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(24,6)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("fill_value")
        )
    )
    imputed = masked.join(F.broadcast(means), "event_type").select(
        "event_type",
        "is_missing",
        F.when(F.col("is_missing"), F.col("fill_value"))
        .otherwise(F.col("value"))
        .alias("v"),
        "value",
    )
    return (
        imputed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_missing").cast("long")).alias("n_imputed"),
            F.round(
                F.sum(F.col("value").cast("decimal(24,6)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean_before"),
            F.round(
                F.sum(F.col("v").cast("decimal(24,6)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean_after"),
        )
        .orderBy("event_type")
    )


Q_IMPUTE_SQL = f"""
WITH masked AS (
  SELECT event_type, value,
    (CAST(('0x' || substring(md5('mask:' || CAST(event_id AS VARCHAR)),
                             1, 13)) AS UBIGINT)
     % {IMPUTE_MASK_BUCKETS}) = 0 AS is_missing
  FROM events
),
means AS (
  SELECT event_type,
    ROUND(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS fill_value
  FROM masked WHERE NOT is_missing GROUP BY event_type
),
imputed AS (
  SELECT m.event_type, m.is_missing,
    CASE WHEN m.is_missing THEN e.fill_value ELSE m.value END AS v,
    m.value
  FROM masked m JOIN means e USING (event_type)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN is_missing THEN 1 ELSE 0 END) AS BIGINT)
    AS n_imputed,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS mean_before,
  ROUND(CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS mean_after
FROM imputed GROUP BY event_type ORDER BY event_type
"""


SPECS = [
    QuerySpec(
        "d_bm25_search",
        d_bm25_search,
        _bm25_sql(),
        doc="Okapi BM25 ranked retrieval for a fixed term query",
        tags=("text", "ir"),
    ),
    QuerySpec(
        "d_inverted_index_stats",
        d_inverted_index_stats,
        D_INDEX_SQL,
        doc="posting-list stats: df / total tf / first doc ids",
        tags=("text", "ir"),
    ),
    QuerySpec(
        "q_snapshot_diff",
        q_snapshot_diff,
        Q_SNAPDIFF_SQL,
        doc="added/removed/changed/same across two snapshot rollups",
        tags=("etl", "quality"),
    ),
    QuerySpec(
        "q_impute_missing",
        q_impute_missing,
        Q_IMPUTE_SQL,
        doc="group-mean imputation of a deterministic missing mask",
        tags=("prep", "quality"),
    ),
]
