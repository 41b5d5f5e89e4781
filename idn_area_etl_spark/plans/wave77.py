"""Seventy-seventh wave: ego density, Cohen's kappa, and positional
text profiling.

Reference parity note: local graph structure + agreement statistics +
positional corpus diagnostics; every query carries an exact DuckDB
oracle.

- **Ego density** (`g_ego_density`) — per focus part, the density of
  its neighborhood: edges AMONG its co-purchase neighbors over
  k(k-1)/2 (the local clustering coefficient); 1 = the neighborhood
  is a clique.  Neighbor-pair membership is two adjacency joins.
- **Cohen's kappa** (`a_cohens_kappa`) — chance-corrected agreement
  between the 1-NN predicted label (wave 68's leave-one-out
  neighbor) and the true label: kappa = (po - pe)/(1 - pe) with pe
  from the marginal label distributions.  The agreement statistic
  that separates real signal from class-imbalance luck.
- **Positional profile** (`d_positional_profile`) — text statistics
  by relative position within each document (5 position buckets):
  mean token length and distinct-token share per bucket — the
  head-vs-tail quality drift check run on crawled corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# g_ego_density
# ------------------------------------------------------------------ #


def g_ego_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood density per focus part (p < 100, co >= 2)."""
    li = load_table(spark, sf_dir, "lineitem")
    from idn_area_etl_spark.operators.graph import co_purchase_edges

    # r8-opt: the edge build is the staged shared co-purchase
    # subtree (see co_purchase_edges) — previously re-expanded per
    # downstream consumer
    edges = co_purchase_edges(li, min_co=2)
    adj = edges.unionByName(
        edges.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    nbrs = adj.filter(F.col("p1") < 100).select(
        F.col("p1").alias("ego"), F.col("p2").alias("nbr")
    )
    deg = nbrs.groupBy("ego").agg(F.count("*").alias("k"))
    n1 = nbrs.select("ego", F.col("nbr").alias("u"))
    n2 = nbrs.select("ego", F.col("nbr").alias("v"))
    # edges among neighbors: (u, v) in edges with u < v
    among = (
        n1.join(n2, "ego")
        .filter(F.col("u") < F.col("v"))
        .join(
            edges.select(
                F.col("p1").alias("u"), F.col("p2").alias("v")
            ),
            ["u", "v"],
        )
        .groupBy("ego")
        .agg(F.count("*").alias("m"))
    )
    return (
        deg.join(among, "ego", "left")
        .filter(F.col("k") >= 2)
        .select(
            F.col("ego").alias("part"),
            F.col("k").cast("long").alias("k_neighbors"),
            F.coalesce("m", F.lit(0)).cast("long").alias("edges_among"),
            F.round(
                F.coalesce("m", F.lit(0)).cast("double")
                / (F.col("k") * (F.col("k") - 1) / 2),
                6,
            ).alias("ego_density"),
        )
        .orderBy("part")
    )


G_EGO_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
adj AS (
  SELECT p1, p2 FROM edges
  UNION ALL
  SELECT p2 AS p1, p1 AS p2 FROM edges
),
nbrs AS (
  SELECT p1 AS ego, p2 AS nbr FROM adj WHERE p1 < 100
),
deg AS (SELECT ego, COUNT(*) AS k FROM nbrs GROUP BY ego),
among AS (
  SELECT x.ego, COUNT(*) AS m
  FROM nbrs x JOIN nbrs y ON x.ego = y.ego AND x.nbr < y.nbr
  JOIN edges e ON e.p1 = x.nbr AND e.p2 = y.nbr
  GROUP BY x.ego
)
SELECT ego AS part, CAST(k AS BIGINT) AS k_neighbors,
  CAST(COALESCE(m, 0) AS BIGINT) AS edges_among,
  ROUND(CAST(COALESCE(m, 0) AS DOUBLE) / (k * (k - 1) / 2), 6)
    AS ego_density
FROM deg LEFT JOIN among USING (ego)
WHERE k >= 2
ORDER BY part
"""


# ------------------------------------------------------------------ #
# a_cohens_kappa
# ------------------------------------------------------------------ #


def a_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the 1-NN predicted label and truth, over
    a fixed 200-probe eval set (``vec_id < 200``).

    Scale design (r6): exact 1-NN prediction over the FULL corpus is
    all-pairs (quadratic); the metric is evaluated on a literal-bounded
    probe sample vs the streaming corpus, with the per-probe winner
    from one ``min_by`` aggregation over an integer-encoded
    (-cos, pred) key — linear in corpus, no per-probe window (see
    ``e_knn_loo_accuracy``)."""
    from idn_area_etl_spark.operators.similarity import probe_label_nn

    emb = load_table(spark, sf_dir, "embeddings")
    # r8-opt, twofold (plans/r08/a_cohens_kappa_*.txt):
    # 1. the per-probe argmax is the shared two-stage hash-aggregate
    #    shape of probe_label_nn — the previous corpus-scale
    #    min_by(pred, struct(...)) planned as SortAggregate (struct
    #    agg buffers are non-primitive), sorting the corpus x probes
    #    stream inside every map task;
    # 2. nn is staged (bounded: one row per probe, 200 rows).  The
    #    confusion matrix below feeds FIVE consumers (counts, tot,
    #    po, mt, mp); unstaged, Catalyst re-expands the corpus-scale
    #    1-NN subtree per consumer — the captured plan held the
    #    scan → probe NLJ → min_by aggregate FOUR times (10 parquet
    #    scans, 8 BroadcastNestedLoopJoins).  Staged, the corpus is
    #    streamed once and everything downstream runs on 200 local
    #    rows.  The staged subtree's probe-side broadcast + NLJ stay
    #    bounded by the literal vec_id < 200 filter — asserted on the
    #    probe_label_nn subtree itself by
    #    tests/test_plan_quality.py::test_probe_label_nn_subtree_shape
    #    (the final plan no longer contains those nodes, so the
    #    broadcast_audit whitelists dropped their entries).
    from idn_area_etl_spark.operators.stage import _stage

    nn = _stage(probe_label_nn(emb))
    counts = nn.groupBy("truth", "pred").agg(F.count("*").alias("c"))
    tot = counts.agg(F.sum("c").alias("N"))
    po = (
        counts.filter(F.col("truth") == F.col("pred"))
        .agg(F.sum("c").alias("agree"))
    )
    mt = counts.groupBy("truth").agg(F.sum("c").alias("nt"))
    mp = counts.groupBy("pred").agg(F.sum("c").alias("np_"))
    pe_terms = (
        mt.join(mp, mt.truth == mp.pred)
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("nt").cast("double") / F.col("N"))
                * (F.col("np_").cast("double") / F.col("N"))
            ).cast("decimal(20,12)").alias("t")
        )
        .agg(F.sum("t").cast("double").alias("pe"))
    )
    return (
        po.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pe_terms))
        .select(
            F.col("N").cast("long").alias("n"),
            F.round(
                F.col("agree").cast("double") / F.col("N"), 6
            ).alias("po"),
            F.round(F.col("pe"), 6).alias("pe"),
            F.round(
                (F.col("agree").cast("double") / F.col("N") - F.col("pe"))
                / (1.0 - F.col("pe")),
                6,
            ).alias("kappa"),
        )
    )


A_KAPPA_SQL = """
WITH v AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS vec
  FROM embeddings
),
norms AS (
  SELECT vec_id, label, vec,
    sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
  FROM v
),
nn AS (
  SELECT q.vec_id AS qid, q.label AS truth, c.label AS pred
  FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 200
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
    ROUND(list_sum(list_transform(generate_series(1, len(q.vec)),
        i -> q.vec[i] * c.vec[i])) / (q.nrm * c.nrm), 6) DESC,
    c.label) = 1
),
counts AS (
  SELECT truth, pred, COUNT(*) AS c FROM nn GROUP BY 1, 2
),
tot AS (SELECT SUM(c) AS N FROM counts),
po AS (SELECT SUM(c) AS agree FROM counts WHERE truth = pred),
mt AS (SELECT truth, SUM(c) AS nt FROM counts GROUP BY truth),
mp AS (SELECT pred, SUM(c) AS np_ FROM counts GROUP BY pred),
pe AS (
  SELECT CAST(SUM(CAST((CAST(nt AS DOUBLE) / N)
      * (CAST(np_ AS DOUBLE) / N) AS DECIMAL(20,12))) AS DOUBLE)
    AS pe
  FROM mt JOIN mp ON mt.truth = mp.pred CROSS JOIN tot
)
SELECT CAST(N AS BIGINT) AS n,
  ROUND(CAST(agree AS DOUBLE) / N, 6) AS po,
  ROUND(pe, 6) AS pe,
  ROUND((CAST(agree AS DOUBLE) / N - pe) / (1.0 - pe), 6) AS kappa
FROM po CROSS JOIN tot CROSS JOIN pe
"""


# ------------------------------------------------------------------ #
# d_positional_profile
# ------------------------------------------------------------------ #


def d_positional_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token stats by relative position bucket (5 buckets) across
    all documents."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    pos = docs.select(
        "doc_id", F.posexplode(toks).alias("i", "w"),
        F.size(toks).alias("n"),
    ).select(
        "w",
        # bucket = floor(i * 5 / n), clamped to 4
        F.least(
            F.lit(4), F.floor(F.col("i") * 5 / F.col("n")).cast("int")
        ).alias("bucket"),
    )
    return (
        pos.groupBy("bucket")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                (
                    F.sum(F.length("w").cast("decimal(20,0)"))
                    / F.count("*")
                ).cast("double"),
                6,
            ).alias("mean_token_len"),
            F.round(
                F.countDistinct("w").cast("double") / F.count("*"), 6
            ).alias("distinct_share"),
        )
        .orderBy("bucket")
    )


D_POSITION_SQL = r"""
WITH pos AS (
  SELECT w,
    LEAST(4, CAST(FLOOR((i - 1) * 5.0 / n) AS INT)) AS bucket
  FROM (
    SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i, len(ws) AS n
    FROM (
      SELECT list_filter(regexp_split_to_array(lower(trim(text)),
                                               '\s+'),
             x -> x <> '') AS ws
      FROM documents
    )
  )
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(CAST(SUM(CAST(length(w) AS DECIMAL(20,0))) / COUNT(*)
             AS DOUBLE), 6) AS mean_token_len,
  ROUND(CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*), 6)
    AS distinct_share
FROM pos GROUP BY bucket ORDER BY bucket
"""


SPECS = [
    QuerySpec(
        "g_ego_density",
        g_ego_density,
        G_EGO_SQL,
        doc="local clustering (ego-network density) per focus part",
        tags=("graph",),
    ),
    QuerySpec(
        "a_cohens_kappa",
        a_cohens_kappa,
        A_KAPPA_SQL,
        doc="Cohen's kappa of 1-NN label prediction vs truth",
        tags=("ml-eval", "stats"),
    ),
    QuerySpec(
        "d_positional_profile",
        d_positional_profile,
        D_POSITION_SQL,
        doc="token length + distinct share by relative position bucket",
        tags=("text",),
    ),
]
