"""Thirty-eighth wave: corpus divergence, decision-stump training,
and clustering quality.

Reference parity note: engine-native information-theory / ML ops;
every query carries an exact DuckDB oracle.

- **JS divergence** (`d_js_divergence_langs`) — Jensen-Shannon
  divergence between each language pair's unigram distributions
  over the SHARED top vocabulary (Laplace-smoothed): one token agg,
  a tiny vocab broadcast, per-pair sums of per-cell terms.  The
  corpus-similarity matrix used for mixture design and contamination
  screening.
- **Decision stump** (`a_decision_stump`) — train a depth-1 tree
  on-engine: candidate thresholds are score deciles (broadcast),
  each (threshold, side) cell is ONE conditional aggregation over
  the scored rows, the best split maximizes information gain
  (parent entropy − weighted child entropies).  The building block
  of boosted-tree training expressed as pure aggregation.
- **Silhouette-lite** (`e_silhouette_lite`) — centroid-based
  silhouette: per point, a = distance to own label centroid, b =
  min distance to any other centroid, s = (b−a)/max(a,b), averaged
  per label.  Centroids are exact decimal dimension sums (the
  wave-8 cohesion machinery); distances are row-local folds; the
  centroid table broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.text import tokens_expr
from idn_area_etl_spark.operators.ranks import discrete_quantiles
from idn_area_etl_spark.plans.registry import QuerySpec, discrete_thresholds_sql
from idn_area_etl_spark.plans.wave32 import _score_expr, _score_sql
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# d_js_divergence_langs
# ------------------------------------------------------------------ #

JS_VOCAB_TOP = 50
JS_SMOOTH = 0.5


def d_js_divergence_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise JS divergence between language unigram distributions
    over the shared top vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens_expr(F.col("text"))).alias("w")
    )
    # r8-opt: ONE staged corpus-scale rollup.  The captured plan ran
    # the scan+explode subtree 5x (vocab, counts, langs, both pair
    # sides); grouping occurrences by (lang, w) once and deriving the
    # top vocabulary from the rollup (sum over langs == the global
    # count) leaves a single corpus pass.  Values are unchanged:
    # counts = rollup semi-joined to vocab, and the (cnt DESC, w)
    # top-k tie-break operates on identical totals.
    full = _stage(
        toks.groupBy("lang", "w").agg(F.count("*").alias("c"))
    )
    vocab = (
        full.groupBy("w")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(JS_VOCAB_TOP)
        .select("w")
    )
    counts = full.join(F.broadcast(vocab), "w").select("lang", "w", "c")
    langs = counts.select("lang").distinct()
    # dense grid lang × vocab with smoothing
    grid = (
        langs.crossJoin(F.broadcast(vocab))
        .join(counts, ["lang", "w"], "left")
        .select(
            "lang",
            "w",
            (F.coalesce("c", F.lit(0)).cast("double") + JS_SMOOTH).alias(
                "cs"
            ),
        )
    )
    w_lang = Window.partitionBy("lang")
    probs = grid.select(
        "lang", "w", (F.col("cs") / F.sum("cs").over(w_lang)).alias("p")
    )
    a = probs.select(
        F.col("lang").alias("lang_a"), "w", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("lang").alias("lang_b"), "w", F.col("p").alias("pb")
    )
    cells = a.join(b, "w").filter(F.col("lang_a") < F.col("lang_b"))
    m = (F.col("pa") + F.col("pb")) / 2.0
    term = (
        0.5 * F.col("pa") * F.log(F.col("pa") / m)
        + 0.5 * F.col("pb") * F.log(F.col("pb") / m)
    )
    return (
        cells.select(
            "lang_a",
            "lang_b",
            term.cast("decimal(24,12)").alias("t"),
        )
        .groupBy("lang_a", "lang_b")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("js_nats"))
        .orderBy("lang_a", "lang_b")
    )


def _js_sql() -> str:
    return f"""
WITH toks AS (
  SELECT lang,
    unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       t -> t <> '')) AS w
  FROM documents
),
vocab AS (
  SELECT w FROM (
    SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
    ORDER BY cnt DESC, w LIMIT {JS_VOCAB_TOP}
  )
),
counts AS (
  SELECT t.lang, t.w, COUNT(*) AS c
  FROM toks t JOIN vocab v USING (w)
  GROUP BY t.lang, t.w
),
langs AS (SELECT DISTINCT lang FROM counts),
grid AS (
  SELECT l.lang, v.w,
    CAST(COALESCE(c.c, 0) AS DOUBLE) + {JS_SMOOTH} AS cs
  FROM langs l CROSS JOIN vocab v
  LEFT JOIN counts c ON c.lang = l.lang AND c.w = v.w
),
probs AS (
  SELECT lang, w, cs / SUM(cs) OVER (PARTITION BY lang) AS p
  FROM grid
),
cells AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
    CAST(0.5 * a.p * LN(a.p / ((a.p + b.p) / 2.0))
         + 0.5 * b.p * LN(b.p / ((a.p + b.p) / 2.0))
      AS DECIMAL(24,12)) AS t
  FROM probs a JOIN probs b ON a.w = b.w AND a.lang < b.lang
)
SELECT lang_a, lang_b,
  ROUND(CAST(SUM(t) AS DOUBLE), 6) AS js_nats
FROM cells GROUP BY lang_a, lang_b
ORDER BY lang_a, lang_b
"""


# ------------------------------------------------------------------ #
# a_decision_stump
# ------------------------------------------------------------------ #

STUMP_CANDIDATES = 9  # decile thresholds


def a_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best depth-1 split of the wave-32 model score predicting the
    odd-label class, by information gain over decile candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        _score_expr(F.col("embedding")).alias("score"),
        (F.col("label") % 2 == 1).cast("long").alias("y"),
    )
    qs = [
        (i, STUMP_CANDIDATES + 1) for i in range(1, STUMP_CANDIDATES + 1)
    ]
    # discrete decile candidates (stored scores at rank ceil(q*n)) —
    # these are EMITTED as the threshold column, so interpolation
    # would be the r6 a_quantile_sketch red-row class (r7)
    thr = discrete_quantiles(scored, F.col("score"), qs)
    base = scored.crossJoin(F.broadcast(thr))
    aggs = []
    for i in range(len(qs)):
        left = F.col("score") <= F.col(f"t{i}")
        aggs += [
            F.first(F.col(f"t{i}")).alias(f"thr{i}"),
            F.sum(left.cast("long")).alias(f"nl{i}"),
            F.sum((left & (F.col("y") == 1)).cast("long")).alias(f"nl1_{i}"),
            F.sum((~left).cast("long")).alias(f"nr{i}"),
            F.sum(((~left) & (F.col("y") == 1)).cast("long")).alias(
                f"nr1_{i}"
            ),
        ]
    wide = base.agg(*aggs)  # ONE pass: all candidate cells together
    stack_args = ", ".join(
        f"{i}, thr{i}, nl{i}, nl1_{i}, nr{i}, nr1_{i}"
        for i in range(len(qs))
    )
    stats = wide.select(
        F.expr(
            f"stack({len(qs)}, {stack_args})"
            " AS (cand, threshold, nl, nl1, nr, nr1)"
        )
    )

    def entropy(n1: F.Column, n: F.Column) -> F.Column:
        p = n1.cast("double") / n.cast("double")
        safe = (
            F.when((p > 0) & (p < 1), -(p * F.log(p) + (1 - p) * F.log(1 - p)))
            .otherwise(0.0)
        )
        return safe

    n_tot = (F.col("nl") + F.col("nr")).cast("double")
    parent = entropy(F.col("nl1") + F.col("nr1"), F.col("nl") + F.col("nr"))
    child = (
        F.col("nl").cast("double") / n_tot * entropy(F.col("nl1"), F.col("nl"))
        + F.col("nr").cast("double") / n_tot * entropy(F.col("nr1"), F.col("nr"))
    )
    gains = stats.select(
        "cand",
        "threshold",
        "nl",
        "nr",
        F.round(parent - child, 6).alias("info_gain"),
    )
    return (
        gains.orderBy(F.col("info_gain").desc(), "cand")
        .limit(1)
        .select("threshold", "nl", "nr", "info_gain")
    )


def _stump_sql() -> str:
    qs = [
        (i, STUMP_CANDIDATES + 1) for i in range(1, STUMP_CANDIDATES + 1)
    ]
    thr = discrete_thresholds_sql("scored", "score", qs)
    wide_cols = ", ".join(
        f"""ANY_VALUE(t{i}) AS thr{i},
  SUM(CASE WHEN score <= t{i} THEN 1 ELSE 0 END) AS nl{i},
  SUM(CASE WHEN score <= t{i} AND y = 1 THEN 1 ELSE 0 END) AS nl1_{i},
  SUM(CASE WHEN score > t{i} THEN 1 ELSE 0 END) AS nr{i},
  SUM(CASE WHEN score > t{i} AND y = 1 THEN 1 ELSE 0 END) AS nr1_{i}"""
        for i in range(len(qs))
    )
    blocks = " UNION ALL ".join(
        f"SELECT {i} AS cand, thr{i} AS threshold, nl{i} AS nl,"
        f" nl1_{i} AS nl1, nr{i} AS nr, nr1_{i} AS nr1 FROM wide"
        for i in range(len(qs))
    )
    ent = (
        lambda n1, n: f"""CASE
  WHEN CAST({n1} AS DOUBLE) / CAST({n} AS DOUBLE) > 0
   AND CAST({n1} AS DOUBLE) / CAST({n} AS DOUBLE) < 1 THEN
    -((CAST({n1} AS DOUBLE) / CAST({n} AS DOUBLE))
        * LN(CAST({n1} AS DOUBLE) / CAST({n} AS DOUBLE))
      + (1 - CAST({n1} AS DOUBLE) / CAST({n} AS DOUBLE))
        * LN(1 - CAST({n1} AS DOUBLE) / CAST({n} AS DOUBLE)))
  ELSE 0.0 END"""
    )
    parent = ent("(nl1 + nr1)", "(nl + nr)")
    left = ent("nl1", "nl")
    right = ent("nr1", "nr")
    return f"""
WITH scored AS (
  SELECT {_score_sql()} AS score,
    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
thr AS (SELECT * FROM {thr}),
base AS (SELECT * FROM scored CROSS JOIN thr),
wide AS (SELECT {wide_cols} FROM base),
stats AS ({blocks}),
gains AS (
  SELECT cand, threshold, nl, nr,
    ROUND(({parent})
      - (CAST(nl AS DOUBLE) / CAST(nl + nr AS DOUBLE) * ({left})
         + CAST(nr AS DOUBLE) / CAST(nl + nr AS DOUBLE) * ({right})),
      6) AS info_gain
  FROM stats
)
SELECT threshold, CAST(nl AS BIGINT) AS nl, CAST(nr AS BIGINT) AS nr,
  info_gain
FROM gains ORDER BY info_gain DESC, cand LIMIT 1
"""


# ------------------------------------------------------------------ #
# e_silhouette_lite
# ------------------------------------------------------------------ #


def e_silhouette_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette per label: a = ‖x − c_own‖, b = min other
    centroid distance, s = (b−a)/max(a,b)."""
    # r9-opt (guide §2.4): emb feeds both the centroid rollup and the
    # scoring crossJoin; unstaged, the parquet scan re-ran per
    # consumer (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    emb = _stage(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
        )
    )
    exploded = emb.select(
        "label", F.posexplode("vec").alias("pos", "v")
    )
    cent = (
        exploded.groupBy("label", "pos")
        .agg(
            F.sum(F.col("v").cast("decimal(32,14)")).alias("s"),
            F.count("*").alias("n"),
        )
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        (
                            F.col("s").cast("double")
                            / F.col("n").cast("double")
                        ).alias("c"),
                    )
                )
            ).alias("pc")
        )
        .select(
            F.col("label").alias("clabel"),
            F.transform("pc", lambda p: p["c"]).alias("centroid"),
        )
    )
    paired = emb.crossJoin(F.broadcast(cent))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                "vec", "centroid", lambda x, c: (x - c) * (x - c)
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    )
    dists = paired.select(
        "vec_id",
        "label",
        "clabel",
        F.round(dist, 9).alias("d"),
    )
    own = dists.filter(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("d").alias("a")
    )
    other = (
        dists.filter(F.col("label") != F.col("clabel"))
        .groupBy("vec_id")
        .agg(F.min("d").alias("b"))
    )
    sil = own.join(other, "vec_id").select(
        "label",
        (
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b"))
        ).cast("decimal(24,12)").alias("s"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum("s").cast("double") / F.count("*").cast("double"), 6
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


E_SILHOUETTE_SQL = """
WITH v AS (
  SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS vec
  FROM embeddings
),
e AS (
  SELECT label, generate_subscripts(vec, 1) AS pos, unnest(vec) AS val
  FROM v
),
sums AS (
  SELECT label, pos,
    CAST(SUM(CAST(val AS DECIMAL(32,14))) AS DOUBLE) AS s,
    COUNT(*) AS n
  FROM e GROUP BY label, pos
),
cent AS (
  SELECT label AS clabel, list(s / CAST(n AS DOUBLE) ORDER BY pos)
    AS centroid
  FROM sums GROUP BY label
),
dists AS (
  SELECT v.vec_id, v.label, c.clabel,
    ROUND(sqrt(list_sum(list_transform(
      generate_series(1, len(v.vec)),
      i -> (v.vec[i] - c.centroid[i]) * (v.vec[i] - c.centroid[i])))),
      9) AS d
  FROM v CROSS JOIN cent c
),
own AS (
  SELECT vec_id, label, d AS a FROM dists WHERE label = clabel
),
other AS (
  SELECT vec_id, MIN(d) AS b FROM dists WHERE label <> clabel
  GROUP BY vec_id
),
sil AS (
  SELECT o.label,
    CAST((t.b - o.a) / GREATEST(o.a, t.b) AS DECIMAL(24,12)) AS s
  FROM own o JOIN other t USING (vec_id)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
    AS mean_silhouette
FROM sil GROUP BY label ORDER BY label
"""


SPECS = [
    QuerySpec(
        "d_js_divergence_langs",
        d_js_divergence_langs,
        _js_sql(),
        doc="pairwise Jensen-Shannon divergence of language unigrams",
        tags=("text", "stats"),
    ),
    QuerySpec(
        "a_decision_stump",
        a_decision_stump,
        _stump_sql(),
        doc="depth-1 tree: best info-gain split of the model score",
        tags=("ml-train",),
    ),
    QuerySpec(
        "e_silhouette_lite",
        e_silhouette_lite,
        E_SILHOUETTE_SQL,
        doc="centroid silhouette per label (clustering quality)",
        tags=("embeddings", "clustering"),
    ),
]
