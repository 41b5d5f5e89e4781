"""Eightieth wave: regression diagnostics, macro-F1, and the
language-ID confusion matrix.

Reference parity note: model diagnostics + classifier eval + langid
evaluation; every query carries an exact DuckDB oracle.

- **Durbin-Watson** (`a_durbin_watson`) — serial correlation of the
  residuals after linear detrending of daily revenue: DW =
  sum((e_t - e_{t-1})^2) / sum(e_t^2), DW ~ 2 means uncorrelated.
  Residuals come from the moment-fitted OLS line (broadcast
  coefficients); the ratio is one lag window over 30 rows.
- **Macro F1** (`a_macro_f1`) — per-label precision/recall/F1 of the
  1-NN leave-one-out classifier plus the macro average: the
  remaining third of the eval trio (accuracy wave 68, kappa wave
  77).
- **LangID confusion** (`d_langid_confusion`) — the confusion matrix
  of the stopword-heuristic language guesser against true labels:
  (true, guess, n) cells, the error readout behind routing
  decisions in multilingual pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.text import lang_scores
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_durbin_watson
# ------------------------------------------------------------------ #


def a_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson on residuals of the linear daily-revenue trend."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): daily feeds the OLS moments and the
    # residual pass; unstaged, the events rollup re-ran per consumer
    # (2 duplicate scans).  Day-cardinality staged frame.
    daily = _stage(
        ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d")
        ).agg(
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("y")
        )
    )
    m = daily.agg(
        F.count("*").alias("n"),
        F.sum(F.col("d").cast("decimal(27,6)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(27,6)")).alias("sy"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,8)")).alias(
            "sxx"
        ),
        F.sum(
            (F.col("d").cast("double") * F.col("y")).cast(
                "decimal(38,8)"
            )
        ).alias("sxy"),
    ).select(
        "n",
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    alpha = F.col("sy") / F.col("n") - beta * F.col("sx") / F.col("n")
    resid = daily.crossJoin(F.broadcast(m)).select(
        "d",
        (F.col("y") - (alpha + beta * F.col("d"))).alias("e"),
    )
    w = Window.orderBy("d")
    diffs = resid.select(
        "e", (F.col("e") - F.lag("e").over(w)).alias("de")
    )
    return diffs.agg(
        F.round(
            F.sum(
                F.when(
                    F.col("de").isNotNull(),
                    (F.col("de") * F.col("de")).cast("decimal(38,8)"),
                )
            ).cast("double")
            / F.sum((F.col("e") * F.col("e")).cast("decimal(38,8)"))
            .cast("double"),
            6,
        ).alias("durbin_watson")
    )


A_DW_SQL = """
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
m AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(d AS DECIMAL(27,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(d * d AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(CAST(d AS DOUBLE) * y AS DECIMAL(38,8)))
         AS DOUBLE) AS sxy
  FROM daily
),
resid AS (
  SELECT d,
    y - ((sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
          * sx / n)
         + ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * d) AS e
  FROM daily CROSS JOIN m
),
diffs AS (
  SELECT e, e - LAG(e) OVER (ORDER BY d) AS de FROM resid
)
SELECT ROUND(
  CAST(SUM(CASE WHEN de IS NOT NULL
      THEN CAST(de * de AS DECIMAL(38,8)) END) AS DOUBLE)
  / CAST(SUM(CAST(e * e AS DECIMAL(38,8))) AS DOUBLE), 6)
  AS durbin_watson
FROM diffs
"""


# ------------------------------------------------------------------ #
# a_macro_f1
# ------------------------------------------------------------------ #


def a_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label F1 of the 1-NN classifier over a fixed 200-probe eval
    set (``vec_id < 200``).

    Scale design (r6): exact 1-NN over the FULL corpus is all-pairs
    (quadratic); the metric is evaluated on a literal-bounded probe
    sample vs the streaming corpus, per-probe winner via ``min_by``
    over an integer-encoded (-cos, pred) key (see
    ``e_knn_loo_accuracy``)."""
    from idn_area_etl_spark.operators.similarity import probe_label_nn

    emb = load_table(spark, sf_dir, "embeddings")
    # r8-opt, twofold (plans/r08/a_macro_f1_*.txt): the per-probe
    # argmax is the shared two-stage hash-aggregate shape of
    # probe_label_nn (the corpus-scale min_by(pred, struct(...))
    # planned as SortAggregate — see its docstring), and nn is staged
    # (bounded: one row per probe, 200 rows) — it feeds both tp and
    # predn, and unstaged the corpus-scale 1-NN subtree (scan →
    # probe NLJ → aggregate) is duplicated per consumer (4 parquet
    # scans / 2 NLJs in the captured plan).  The staged subtree's
    # probe broadcast + NLJ stay bounded by the literal vec_id < 200
    # filter — asserted on the probe_label_nn subtree by
    # tests/test_plan_quality.py::test_probe_label_nn_subtree_shape.
    nn = _stage(probe_label_nn(emb))
    tp = nn.groupBy("truth").agg(
        F.sum((F.col("pred") == F.col("truth")).cast("long")).alias(
            "tp"
        ),
        F.count("*").alias("support"),
    )
    predn = nn.groupBy("pred").agg(F.count("*").alias("np_"))
    per = (
        tp.join(predn, tp.truth == predn.pred, "left")
        .select(
            F.col("truth").alias("label"),
            "support",
            "tp",
            F.coalesce("np_", F.lit(0)).alias("n_pred"),
        )
        .select(
            "label",
            "support",
            F.round(
                F.when(
                    F.col("n_pred") > 0,
                    F.col("tp").cast("double") / F.col("n_pred"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("precision"),
            F.round(
                F.col("tp").cast("double") / F.col("support"), 6
            ).alias("recall"),
            F.round(
                F.when(
                    (F.col("tp") > 0),
                    2.0
                    * F.col("tp").cast("double")
                    / (F.col("n_pred") + F.col("support")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("f1"),
        )
    )
    return per.orderBy("label")


A_F1_SQL = """
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
tp AS (
  SELECT truth, SUM(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS tp,
    COUNT(*) AS support
  FROM nn GROUP BY truth
),
predn AS (SELECT pred, COUNT(*) AS np_ FROM nn GROUP BY pred)
SELECT truth AS label, CAST(support AS BIGINT) AS support,
  ROUND(CASE WHEN COALESCE(np_, 0) > 0
      THEN CAST(tp AS DOUBLE) / np_ ELSE 0.0 END, 6) AS precision,
  ROUND(CAST(tp AS DOUBLE) / support, 6) AS recall,
  ROUND(CASE WHEN tp > 0
      THEN 2.0 * CAST(tp AS DOUBLE) / (COALESCE(np_, 0) + support)
      ELSE 0.0 END, 6) AS f1
FROM tp LEFT JOIN predn ON truth = pred
ORDER BY label
"""


# ------------------------------------------------------------------ #
# d_langid_confusion
# ------------------------------------------------------------------ #


def d_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language guesser vs truth."""
    docs = load_table(spark, sf_dir, "documents")
    guessed = lang_scores(docs).select("doc_id", "lang_guess")
    return (
        docs.select("doc_id", F.col("lang").alias("truth"))
        .join(guessed, "doc_id")
        .groupBy("truth", "lang_guess")
        .agg(F.count("*").alias("n"))
        .orderBy("truth", "lang_guess")
    )


D_CONFUSION_SQL = """
WITH scored AS (
  SELECT doc_id, lang AS truth,
    len(regexp_extract_all(lower(text),
        '\\b(the|and|of|is|in)\\b')) AS s_en,
    len(regexp_extract_all(lower(text),
        '\\b(le|la|les|et|des)\\b')) AS s_fr,
    len(regexp_extract_all(lower(text),
        '\\b(el|los|las|y|del)\\b')) AS s_es,
    len(regexp_extract_all(lower(text),
        '\\b(der|die|das|und|nicht)\\b')) AS s_de,
    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
  FROM documents
),
guessed AS (
  SELECT truth,
    CASE
      WHEN s_zh > 0 THEN 'zh'
      WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
      WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
      WHEN s_es >= s_de THEN 'es'
      ELSE 'de'
    END AS lang_guess
  FROM scored
)
SELECT truth, lang_guess, CAST(COUNT(*) AS BIGINT) AS n
FROM guessed GROUP BY 1, 2 ORDER BY 1, 2
"""


SPECS = [
    QuerySpec(
        "a_durbin_watson",
        a_durbin_watson,
        A_DW_SQL,
        doc="Durbin-Watson serial-correlation diagnostic on trend residuals",
        tags=("timeseries", "stats"),
    ),
    QuerySpec(
        "a_macro_f1",
        a_macro_f1,
        A_F1_SQL,
        doc="per-label precision/recall/F1 of the 1-NN LOO classifier",
        tags=("ml-eval",),
    ),
    QuerySpec(
        "d_langid_confusion",
        d_langid_confusion,
        D_CONFUSION_SQL,
        doc="confusion matrix of the stopword language guesser",
        tags=("text", "eval"),
    ),
]
