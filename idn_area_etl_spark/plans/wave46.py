"""Forty-sixth wave: engagement stickiness, n-gram diversity,
purged time-series CV folds, and Brier-score decomposition.

Reference parity note: product-analytics + ML-evaluation + data-prep
extensions; every query carries an exact DuckDB oracle.

- **DAU/WAU stickiness** (`q_dau_wau_stickiness`) — the engagement
  ratio: per day, distinct actives that day vs the trailing 7-day
  distinct actives.  Trailing DISTINCT counts do not compose as
  window sums, so each (user, day) presence is exploded to the 7
  target days it supports — linear work, shuffle on the target day,
  no self-join.
- **Distinct n-gram diversity** (`d_ngram_diversity`) — corpus
  diversity (distinct-n): per language and n in 1..3, distinct vs
  total word n-grams (the repetitiveness signal used to detect
  TTR-collapse in generated corpora).
- **Purged time-series folds** (`s_purged_time_folds`) — leakage-free
  cross-validation prep over dated orders: 5 contiguous date folds
  (ntile over the date order), each with a 30-day embargo on both
  sides excluded from the complementary training set.
- **Brier decomposition** (`a_brier_decomposition`) — reliability /
  resolution / uncertainty of the wave-32 logistic scorer over 10
  equal-width score bins, plus the direct Brier mean (exact decimal
  summation throughout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import token_ngrams_expr
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.plans.wave32 import _score_expr, _score_sql
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# q_dau_wau_stickiness
# ------------------------------------------------------------------ #


def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU, trailing-7-day WAU, and the stickiness ratio."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): ud feeds bounds, DAU and WAU; unstaged, the
    # events scan + distinct re-ran per consumer (2 duplicate scans).
    ud = _stage(
        ev.select(
            "user_id", F.to_date("ts").alias("day")
        ).distinct()
    )
    bounds = ud.agg(F.max("day").alias("max_day"))
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    # a (user, day) presence supports WAU on days day .. day+6
    wau = (
        ud.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(F.date_add("day", 6), F.col("max_day")),
                )
            ).alias("day"),
        )
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(
                F.col("dau").cast("double") / F.col("wau"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


Q_STICKY_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
bounds AS (SELECT MAX(day) AS max_day FROM ud),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT user_id, unnest(generate_series(day,
    least(day + INTERVAL 6 DAY, (SELECT max_day FROM bounds)),
    INTERVAL 1 DAY))::DATE AS day
  FROM ud
),
wau_d AS (
  SELECT day, COUNT(*) AS wau FROM (SELECT DISTINCT * FROM wau)
  GROUP BY day
)
SELECT dau.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
  ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
FROM dau JOIN wau_d ON dau.day = wau_d.day
ORDER BY dau.day
"""


# ------------------------------------------------------------------ #
# d_ngram_diversity
# ------------------------------------------------------------------ #


def d_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-vs-total word n-gram ratio per language, n = 1..3."""
    docs = load_table(spark, sf_dir, "documents")
    # r9-opt (guide §2.4/§6): the three n-gram legs each re-scanned
    # and re-tokenized the corpus (2 duplicate scans).  All three
    # positional n-gram arrays now come out of ONE staged pass — the
    # per-n expressions are unchanged, so the exploded rows are
    # identical.
    base = _stage(
        docs.select(
            "lang",
            *[
                token_ngrams_expr("text", n).alias(f"g{n}")
                for n in (1, 2, 3)
            ],
        )
    )
    parts = []
    for n in (1, 2, 3):
        # shared regex-scan n-grams (duplicates kept); empty array for
        # <n-token docs, so explode drops them — same rows as the old
        # size(ws)>=n filter + positional transform
        grams = base.select(
            "lang",
            F.lit(n).alias("n"),
            F.explode(F.col(f"g{n}")).alias("g"),
        )
        parts.append(grams)
    allg = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (
        allg.groupBy("lang", "n")
        .agg(
            F.count("*").alias("total_ngrams"),
            F.countDistinct("g").alias("distinct_ngrams"),
        )
        .select(
            "lang",
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams").cast("double")
                / F.col("total_ngrams"),
                6,
            ).alias("diversity"),
        )
        .orderBy("lang", "n")
    )


D_DIVERSITY_SQL = r"""
WITH base AS (
  SELECT lang,
    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x <> '') AS ws
  FROM documents
),
grams AS (
  SELECT lang, n.n AS n,
    unnest([array_to_string(ws[i:i+n.n-1], ' ')
            for i in generate_series(1, len(ws) - n.n + 1)]) AS g
  FROM base CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) n
  WHERE len(ws) >= n.n
)
SELECT lang, CAST(n AS INT) AS n,
  CAST(COUNT(*) AS BIGINT) AS total_ngrams,
  CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams,
  ROUND(CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS diversity
FROM grams GROUP BY lang, n ORDER BY lang, n
"""


# ------------------------------------------------------------------ #
# s_purged_time_folds
# ------------------------------------------------------------------ #


def s_purged_time_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 contiguous date folds over orders with a 30-day embargo:
    per fold, the validation span and train/embargo sizes."""
    # r9-opt (guide §2.4): orders feeds the fold assignment and the
    # embargo tagging; unstaged, the scan re-ran per consumer (2
    # duplicate scans).
    orders = _stage(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.to_date("o_orderdate").alias("d")
        )
    )
    folds = orders.withColumn(
        "fold",
        F.ntile(5).over(Window.orderBy("d", "o_orderkey")),
    )
    spans = folds.groupBy("fold").agg(
        F.count("*").alias("n_val"),
        F.min("d").alias("val_start"),
        F.max("d").alias("val_end"),
    )
    o = orders.alias("o")
    s = spans.alias("s")
    tagged = o.crossJoin(F.broadcast(s)).select(
        F.col("s.fold").alias("fold"),
        F.col("s.n_val").alias("n_val"),
        F.col("s.val_start").alias("val_start"),
        F.col("s.val_end").alias("val_end"),
        F.when(
            (F.col("o.d") >= F.date_sub(F.col("s.val_start"), 30))
            & (F.col("o.d") <= F.date_add(F.col("s.val_end"), 30)),
            1,
        )
        .otherwise(0)
        .alias("excluded"),
    )
    return (
        tagged.groupBy("fold", "n_val", "val_start", "val_end")
        .agg(
            F.sum(1 - F.col("excluded")).cast("long").alias("n_train"),
            (
                F.sum("excluded").cast("long") - F.col("n_val")
            ).alias("n_embargoed"),
        )
        .orderBy("fold")
    )


S_FOLDS_SQL = """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders
),
folds AS (
  SELECT o_orderkey, d,
    NTILE(5) OVER (ORDER BY d, o_orderkey) AS fold
  FROM o
),
spans AS (
  SELECT fold, COUNT(*) AS n_val, MIN(d) AS val_start,
    MAX(d) AS val_end
  FROM folds GROUP BY fold
)
SELECT fold, CAST(n_val AS BIGINT) AS n_val, val_start, val_end,
  CAST(SUM(CASE WHEN o.d >= val_start - INTERVAL 30 DAY
                 AND o.d <= val_end + INTERVAL 30 DAY
            THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
  CAST(SUM(CASE WHEN o.d >= val_start - INTERVAL 30 DAY
                 AND o.d <= val_end + INTERVAL 30 DAY
            THEN 1 ELSE 0 END) - n_val AS BIGINT) AS n_embargoed
FROM spans CROSS JOIN o
GROUP BY fold, n_val, val_start, val_end
ORDER BY fold
"""


# ------------------------------------------------------------------ #
# a_brier_decomposition
# ------------------------------------------------------------------ #


def a_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over 10 equal-width
    score bins: brier = reliability - resolution + uncertainty
    (up to within-bin variance of the binned forecast)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        _score_expr(F.col("embedding")).alias("score"),
        (F.col("label") % 2 == 1).cast("int").alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9)).alias("bin"),
        "score",
        "y",
    )
    # r9-opt (guide §2.3/§2.4): the staged 10-row per-bin rollup also
    # carries the squared-error sum, so the global Brier numerator
    # rolls up from the bins (decimal sums are associative →
    # bit-identical) instead of re-scanning the corpus; tot and the
    # component terms read the same staged frame (2 duplicate scans
    # before).
    per_bin = _stage(
        binned.groupBy("bin").agg(
            F.count("*").alias("n_k"),
            F.sum("y").alias("pos_k"),
            F.sum(F.col("score").cast("decimal(20,6)")).alias("score_sum"),
            F.sum(
                (
                    (F.col("score") - F.col("y"))
                    * (F.col("score") - F.col("y"))
                ).cast("decimal(27,12)")
            ).alias("sq_sum_k"),
        )
    )
    tot = per_bin.agg(
        F.sum("n_k").alias("n"),
        F.sum("pos_k").alias("pos"),
    )
    obar = F.col("pos").cast("double") / F.col("n")
    o_k = F.col("pos_k").cast("double") / F.col("n_k")
    f_k = (F.col("score_sum") / F.col("n_k")).cast("double")
    comps = per_bin.crossJoin(F.broadcast(tot)).select(
        (
            F.col("n_k").cast("double") * (f_k - o_k) * (f_k - o_k)
        ).cast("decimal(27,12)").alias("rel_term"),
        (
            F.col("n_k").cast("double") * (o_k - obar) * (o_k - obar)
        ).cast("decimal(27,12)").alias("res_term"),
        F.col("n"),
        F.col("pos"),
    )
    # cast back to the direct-aggregation type decimal(37,12) —
    # lossless (same exact total), keeps the downstream decimal
    # division bit-identical to the pre-rollup shape
    brier = per_bin.agg(
        F.sum("sq_sum_k").cast("decimal(37,12)").alias("sq_sum")
    )
    return (
        comps.groupBy("n", "pos")
        .agg(
            F.sum("rel_term").alias("rel_sum"),
            F.sum("res_term").alias("res_sum"),
        )
        .crossJoin(F.broadcast(brier))
        .select(
            F.col("n").cast("long").alias("n"),
            F.round((F.col("sq_sum") / F.col("n")).cast("double"), 6).alias(
                "brier"
            ),
            F.round(
                (F.col("rel_sum") / F.col("n")).cast("double"), 6
            ).alias("reliability"),
            F.round(
                (F.col("res_sum") / F.col("n")).cast("double"), 6
            ).alias("resolution"),
            F.round(
                (F.col("pos").cast("double") / F.col("n"))
                * (1.0 - F.col("pos").cast("double") / F.col("n")),
                6,
            ).alias("uncertainty"),
        )
    )


A_BRIER_SQL = f"""
WITH scored AS (
  SELECT {_score_sql()} AS score,
    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
binned AS (
  SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin, score, y
  FROM scored
),
per_bin AS (
  SELECT bin, COUNT(*) AS n_k, SUM(y) AS pos_k,
    SUM(CAST(score AS DECIMAL(20,6))) AS score_sum
  FROM binned GROUP BY bin
),
tot AS (SELECT SUM(n_k) AS n, SUM(pos_k) AS pos FROM per_bin),
comps AS (
  SELECT
    CAST(CAST(n_k AS DOUBLE)
      * (CAST(score_sum / n_k AS DOUBLE) - CAST(pos_k AS DOUBLE) / n_k)
      * (CAST(score_sum / n_k AS DOUBLE) - CAST(pos_k AS DOUBLE) / n_k)
      AS DECIMAL(27,12)) AS rel_term,
    CAST(CAST(n_k AS DOUBLE)
      * (CAST(pos_k AS DOUBLE) / n_k - CAST(pos AS DOUBLE) / n)
      * (CAST(pos_k AS DOUBLE) / n_k - CAST(pos AS DOUBLE) / n)
      AS DECIMAL(27,12)) AS res_term,
    n, pos
  FROM per_bin CROSS JOIN tot
),
brier AS (
  SELECT SUM(CAST((score - y) * (score - y) AS DECIMAL(27,12)))
    AS sq_sum
  FROM scored
)
SELECT CAST(n AS BIGINT) AS n,
  ROUND(CAST(sq_sum / n AS DOUBLE), 6) AS brier,
  ROUND(CAST(SUM(rel_term) / n AS DOUBLE), 6) AS reliability,
  ROUND(CAST(SUM(res_term) / n AS DOUBLE), 6) AS resolution,
  ROUND((CAST(pos AS DOUBLE) / n) * (1.0 - CAST(pos AS DOUBLE) / n), 6)
    AS uncertainty
FROM comps CROSS JOIN brier
GROUP BY n, pos, sq_sum
"""


SPECS = [
    QuerySpec(
        "q_dau_wau_stickiness",
        q_dau_wau_stickiness,
        Q_STICKY_SQL,
        doc="per-day DAU / trailing-7d WAU stickiness (explode, no self-join)",
        tags=("events", "engagement"),
    ),
    QuerySpec(
        "d_ngram_diversity",
        d_ngram_diversity,
        D_DIVERSITY_SQL,
        doc="distinct-n word n-gram diversity per language, n=1..3",
        tags=("text", "dataset-prep"),
    ),
    QuerySpec(
        "s_purged_time_folds",
        s_purged_time_folds,
        S_FOLDS_SQL,
        doc="5 contiguous date CV folds with 30-day embargo purge",
        tags=("sampling", "ml-eval"),
    ),
    QuerySpec(
        "a_brier_decomposition",
        a_brier_decomposition,
        A_BRIER_SQL,
        doc="Brier reliability/resolution/uncertainty over 10 score bins",
        tags=("ml-eval",),
    ),
]
