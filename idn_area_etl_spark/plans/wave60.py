"""Sixtieth wave: the dedup funnel, recommendation coverage, and
receivables aging.

Reference parity note: curation-pipeline + recsys-eval + finance
extensions; every query carries an exact DuckDB oracle.

- **Dedup funnel** (`d_dedup_funnel`) — the end-to-end curation
  report: per language, documents surviving each tier of the
  dedup cascade — raw -> exact (md5 of raw text) -> canonical
  (lowercase/punct-strip/ws-collapse md5) -> near-dup (connected
  components over the exact prefix-join edges, keep min doc_id).
  Each tier keeps one representative per group OF THE SURVIVORS of
  the previous tier, exactly like a production cascade.
- **Recommendation coverage** (`a_rec_coverage`) — catalog-health
  metrics of the wave-47 co-purchase top-5 lists over the focus
  parts: how many distinct parts ever get recommended (coverage),
  and how concentrated exposure is (share absorbed by the top-10
  most-recommended parts).
- **Receivables aging** (`q_receivables_aging`) — the AR aging
  report: open orders ('O' status) bucketed by age at the
  observation date (max order date), with order counts and exact
  decimal totals per bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import prefix_jaccard_join
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.graph import connected_components
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# d_dedup_funnel
# ------------------------------------------------------------------ #


def d_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors per dedup tier (exact -> canonical -> near-dup),
    per language."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    keyed = docs.select(
        "doc_id", "lang", "text", F.md5("text").alias("ek"),
        F.md5(canon).alias("ck"),
    )
    # tier 1: exact — keep min doc_id per raw-text hash
    # r8-opt: each tier is staged — s1 feeds s2 and the per-lang
    # tier-1 rollup, s2 feeds the near-dup edges, s3, and the tier-2
    # rollup; unstaged, the upstream tiers re-ran per consumer
    # (4 scans / 17 exchanges in the captured plan).
    s1 = _stage(
        keyed.withColumn(
            "keep1",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("ek")),
        )
        .filter("keep1")
        .drop("keep1")
    )
    # tier 2: canonical over tier-1 survivors
    s2 = _stage(
        s1.withColumn(
            "keep2",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("ck")),
        )
        .filter("keep2")
        .drop("keep2")
    )
    # tier 3: near-dup clusters over tier-2 survivors
    edges = prefix_jaccard_join(
        s2.select("doc_id", "text"), n=5, tau_num=4, tau_den=5
    ).select("doc1", "doc2")
    comp = connected_components(edges, "doc1", "doc2")
    s3 = (
        s2.join(
            comp.select(F.col("node").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .withColumn(
            "cluster", F.coalesce("component", F.col("doc_id"))
        )
        .withColumn(
            "keep3",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("cluster")),
        )
        .filter("keep3")
    )
    raw = docs.groupBy("lang").agg(F.count("*").alias("n_raw"))
    t1 = s1.groupBy("lang").agg(F.count("*").alias("n_exact"))
    t2 = s2.groupBy("lang").agg(F.count("*").alias("n_canonical"))
    t3 = s3.groupBy("lang").agg(F.count("*").alias("n_neardup"))
    return (
        raw.join(t1, "lang")
        .join(t2, "lang")
        .join(t3, "lang")
        .orderBy("lang")
    )


D_FUNNEL_SQL = r"""
WITH RECURSIVE keyed AS (
  SELECT doc_id, lang, text, md5(text) AS ek,
    md5(trim(regexp_replace(regexp_replace(lower(text),
        '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS ck
  FROM documents
),
s1 AS (
  SELECT * FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY ek) AS k1 FROM keyed
  ) WHERE doc_id = k1
),
s2 AS (
  SELECT * FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY ck) AS k2 FROM s1
  ) WHERE doc_id = k2
),
tok AS (
  SELECT doc_id,
    list_distinct([array_to_string(ws[i:i+4], ' ')
                   for i in generate_series(1, len(ws) - 4)]) AS sh
  FROM (
    SELECT doc_id,
      list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                  x -> x <> '') AS ws
    FROM s2
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
s3 AS (
  SELECT * FROM (
    SELECT s2.doc_id, s2.lang,
      MIN(s2.doc_id) OVER (PARTITION BY
        COALESCE(comp.cluster, s2.doc_id)) AS k3
    FROM s2 LEFT JOIN comp ON s2.doc_id = comp.node
  ) WHERE doc_id = k3
)
SELECT r.lang,
  CAST(r.n_raw AS BIGINT) AS n_raw,
  CAST(t1.n AS BIGINT) AS n_exact,
  CAST(t2.n AS BIGINT) AS n_canonical,
  CAST(t3.n AS BIGINT) AS n_neardup
FROM (SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY lang) r
JOIN (SELECT lang, COUNT(*) AS n FROM s1 GROUP BY lang) t1 USING (lang)
JOIN (SELECT lang, COUNT(*) AS n FROM s2 GROUP BY lang) t2 USING (lang)
JOIN (SELECT lang, COUNT(*) AS n FROM s3 GROUP BY lang) t3 USING (lang)
ORDER BY r.lang
"""


# ------------------------------------------------------------------ #
# a_rec_coverage
# ------------------------------------------------------------------ #


def a_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog coverage and exposure concentration of the wave-47
    co-purchase top-5 recommendations."""
    li = load_table(spark, sf_dir, "lineitem")
    # r8-opt: op is staged (it feeds npart, both co-occurrence sides,
    # and the catalog count — 4 scan+distinct pipelines in the
    # captured plan); exposure is staged (feeds top10 and the final
    # rollup); the catalog count is a lazy 1-row crossJoin instead of
    # an eager driver .count() at plan-build time.
    op = _stage(li.select("l_orderkey", "l_partkey").distinct())
    npart = op.groupBy("l_partkey").agg(F.count("*").alias("n_ord"))
    a = op.filter(F.col("l_partkey") < 50).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    co = (
        a.join(b, "ok")
        .filter(F.col("p1") != F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("co"))
    )
    n1 = npart.select(
        F.col("l_partkey").alias("p1"), F.col("n_ord").alias("n1")
    )
    n2 = npart.select(
        F.col("l_partkey").alias("p2"), F.col("n_ord").alias("n2")
    )
    sim = F.round(
        F.col("co").cast("double")
        / F.sqrt((F.col("n1") * F.col("n2")).cast("double")),
        6,
    )
    w = Window.partitionBy("p1").orderBy(F.desc("sim"), "p2")
    recs = (
        co.join(n1, "p1")
        .join(n2, "p2")
        .select("p1", "p2", sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("p2")
    )
    exposure = _stage(recs.groupBy("p2").agg(F.count("*").alias("hits")))
    cat = op.agg(F.countDistinct("l_partkey").alias("catalog_size"))
    # only top-10 membership matters — TakeOrdered (scalable per-
    # partition top-k + merge) instead of a global row_number window
    top10 = (
        exposure.orderBy(F.desc("hits"), "p2")
        .limit(10)
        .agg(F.sum("hits").alias("top_hits"))
    )
    return (
        exposure.agg(
            F.count("*").cast("long").alias("n_recommended_parts"),
            F.sum("hits").alias("all_hits"),
        )
        .crossJoin(F.broadcast(top10))
        .crossJoin(F.broadcast(cat))
        .select(
            "n_recommended_parts",
            F.col("catalog_size").cast("long").alias("catalog_size"),
            F.round(
                F.col("n_recommended_parts").cast("double")
                / F.col("catalog_size").cast("double"),
                6,
            ).alias("coverage"),
            F.round(
                F.col("top_hits").cast("double") / F.col("all_hits"), 6
            ).alias("top10_exposure_share"),
        )
    )


A_RECCOV_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
npart AS (
  SELECT l_partkey, COUNT(*) AS n_ord FROM op GROUP BY l_partkey
),
co AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS co
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_partkey < 50
  GROUP BY 1, 2
),
recs AS (
  SELECT p2 FROM (
    SELECT p1, p2,
      ROW_NUMBER() OVER (PARTITION BY p1 ORDER BY
        ROUND(CAST(co AS DOUBLE)
          / sqrt(CAST(n1.n_ord * n2.n_ord AS DOUBLE)), 6) DESC, p2)
        AS rnk
    FROM co
    JOIN npart n1 ON co.p1 = n1.l_partkey
    JOIN npart n2 ON co.p2 = n2.l_partkey
  ) WHERE rnk <= 5
),
exposure AS (SELECT p2, COUNT(*) AS hits FROM recs GROUP BY p2),
catalog AS (SELECT COUNT(DISTINCT l_partkey) AS cs FROM op),
ranked AS (
  SELECT hits, ROW_NUMBER() OVER (ORDER BY hits DESC, p2) AS er
  FROM exposure
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_recommended_parts,
  CAST(MAX(cs) AS BIGINT) AS catalog_size,
  ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(cs), 6) AS coverage,
  ROUND(CAST(SUM(CASE WHEN er <= 10 THEN hits END) AS DOUBLE)
        / SUM(hits), 6) AS top10_exposure_share
FROM ranked CROSS JOIN catalog
"""


# ------------------------------------------------------------------ #
# q_receivables_aging
# ------------------------------------------------------------------ #


def q_receivables_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR aging: open orders bucketed by age (days) at the max order
    date."""
    orders = load_table(spark, sf_dir, "orders")
    asof = orders.agg(F.max(F.to_date("o_orderdate")).alias("asof"))
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    aged = open_orders.crossJoin(F.broadcast(asof)).select(
        F.datediff(F.col("asof"), F.to_date("o_orderdate")).alias(
            "age_days"
        ),
        F.col("o_totalprice").cast("decimal(27,2)").alias("amt"),
    )
    bucket = (
        F.when(F.col("age_days") <= 365, "0-1y")
        .when(F.col("age_days") <= 730, "1-2y")
        .when(F.col("age_days") <= 1460, "2-4y")
        .otherwise(">4y")
    )
    return (
        aged.select(bucket.alias("bucket"), "amt")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("amt").cast("double").alias("total_open"),
        )
        .orderBy("bucket")
    )


Q_AGING_SQL = """
WITH obs AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS obs_date FROM orders
),
aged AS (
  SELECT datediff('day', CAST(o_orderdate AS DATE), obs_date)
      AS age_days,
    CAST(o_totalprice AS DECIMAL(27,2)) AS amt
  FROM orders CROSS JOIN obs
  WHERE o_orderstatus = 'O'
)
SELECT CASE WHEN age_days <= 365 THEN '0-1y'
            WHEN age_days <= 730 THEN '1-2y'
            WHEN age_days <= 1460 THEN '2-4y'
            ELSE '>4y' END AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(amt) AS DOUBLE) AS total_open
FROM aged GROUP BY 1 ORDER BY 1
"""


SPECS = [
    QuerySpec(
        "d_dedup_funnel",
        d_dedup_funnel,
        D_FUNNEL_SQL,
        doc="per-language survivors of exact -> canonical -> near-dup tiers",
        tags=("dedup", "dataset-prep", "report"),
    ),
    QuerySpec(
        "a_rec_coverage",
        a_rec_coverage,
        A_RECCOV_SQL,
        doc="catalog coverage + exposure concentration of top-5 recs",
        tags=("recommender", "eval"),
    ),
    QuerySpec(
        "q_receivables_aging",
        q_receivables_aging,
        Q_AGING_SQL,
        doc="AR aging buckets of open orders at the max order date",
        tags=("finance", "bi"),
    ),
]
