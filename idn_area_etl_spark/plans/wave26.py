"""Twenty-sixth wave: higher-moment statistics, sequence trigrams,
Holt forecasting as a deterministic fold, RAKE-lite keywords, and a
grid-binned spatial proximity self-join.

Reference parity note: the reference's only numeric surface is the
row counter (SURVEY.md §2.4 A2); these extend the engine-native
analytics axis.  Each query carries an exact DuckDB oracle.

- **Moment statistics** (`q_moment_stats`) — per-segment skewness and
  excess kurtosis from exact decimal power sums S1..S4 (per-row
  ``x*x*x*x`` stays a single IEEE chain — never ``pow``, whose
  libm rounding may differ across engines), plus the per-segment
  modal nation resolved deterministically (count desc, key asc).
  One fact pass for the moments, one tiny agg for the mode.
- **Event trigram paths** (`q_event_trigrams`) — top 3-step
  event-type paths over per-user time-ordered streams: two ``lead``s
  over one user-keyed window (single shuffle), then a global count.
  Extends the wave-14 Markov matrix from 2-grams to 3-grams.
- **Holt forecast** (`q_holt_forecast`) — double-exponential
  smoothing per event type over the daily mean-value series,
  expressed as a higher-order ``aggregate`` fold over the sorted
  day array: the classic "custom stateful operator the engine
  lacks" done WITHOUT a UDF — state is a (level, trend) struct,
  the fold order is explicit, so the doubles are bit-identical to
  the DuckDB WITH RECURSIVE replica (list_reduce was unusable —
  see the note below Q_HOLT_SQL).  The series per key is tiny
  (days), so collect_list is bounded; the heavy work is the one
  day-level aggregation underneath.
- **RAKE-lite keywords** (`d_rake_keywords`) — degree/frequency
  keyword scores: a word's degree is the number of bigram
  occurrences it participates in (left + right), its frequency the
  unigram count; score = degree / freq.  Row-local n-gram
  generation, two map-side-combinable counts, one equi-join.
- **Grid proximity join** (`j_grid_close_pairs`) — customer pairs
  within 0.5° (degree-space euclidean) found via 1° grid binning:
  each point lands in one cell, the probe side explodes to its 3×3
  neighborhood, and the candidate join is a plain equi-join on the
  cell key — the standard distributed spatial-bin pattern that
  replaces the O(n²) cross join the DuckDB oracle runs.  Sound
  because a 0.5° ball always fits inside the 3×3 neighborhood of
  a 1° grid (no great-circle wraparound in degree space).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.text import tokens_expr
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.operators.sketch import md5_bucket
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# q_moment_stats
# ------------------------------------------------------------------ #


def q_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mktsegment acctbal skewness + excess kurtosis from exact
    decimal power sums, and the modal nation (deterministic ties)."""
    c = load_table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    x2 = x * x
    x3 = x2 * x
    x4 = x3 * x
    sums = c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(x.cast("decimal(24,6)")).cast("double").alias("s1"),
        F.sum(x2.cast("decimal(30,6)")).cast("double").alias("s2"),
        F.sum(x3.cast("decimal(34,6)")).cast("double").alias("s3"),
        F.sum(x4.cast("decimal(38,6)")).cast("double").alias("s4"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s1") / nd
    m2 = F.col("s2") / nd - m * m
    m3 = F.col("s3") / nd - 3.0 * m * (F.col("s2") / nd) + 2.0 * m * m * m
    m4 = (
        F.col("s4") / nd
        - 4.0 * m * (F.col("s3") / nd)
        + 6.0 * m * m * (F.col("s2") / nd)
        - 3.0 * m * m * m * m
    )
    moments = sums.select(
        "c_mktsegment",
        "n",
        F.round(m, 6).alias("mean_acctbal"),
        F.round(m3 / F.sqrt(m2 * m2 * m2), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 6).alias("kurtosis"),
    )
    nation_counts = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), "c_nationkey"
    )
    modes = (
        nation_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("c_nationkey").alias("mode_nation"))
    )
    return moments.join(F.broadcast(modes), "c_mktsegment").orderBy(
        "c_mktsegment"
    )


Q_MOMENTS_SQL = """
WITH sums AS (
  SELECT c_mktsegment, COUNT(*) AS n,
    CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
      AS s2,
    CAST(SUM(CAST(c_acctbal * c_acctbal * c_acctbal
                  AS DECIMAL(34,6))) AS DOUBLE) AS s3,
    CAST(SUM(CAST(c_acctbal * c_acctbal * c_acctbal * c_acctbal
                  AS DECIMAL(38,6))) AS DOUBLE) AS s4
  FROM customer GROUP BY c_mktsegment
),
moments AS (
  SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
    ROUND(s1 / n, 6) AS mean_acctbal,
    ROUND((s3 / n - 3 * (s1 / n) * (s2 / n)
           + 2 * (s1 / n) * (s1 / n) * (s1 / n))
          / SQRT((s2 / n - (s1 / n) * (s1 / n)) *
                 (s2 / n - (s1 / n) * (s1 / n)) *
                 (s2 / n - (s1 / n) * (s1 / n))), 6) AS skewness,
    ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
           + 6 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
          / ((s2 / n - (s1 / n) * (s1 / n))
             * (s2 / n - (s1 / n) * (s1 / n))) - 3, 6) AS kurtosis
  FROM sums
),
nc AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
  FROM customer GROUP BY 1, 2
),
modes AS (
  SELECT c_mktsegment, c_nationkey AS mode_nation
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY c_mktsegment ORDER BY cnt DESC, c_nationkey
    ) AS rn FROM nc
  ) WHERE rn = 1
)
SELECT m.c_mktsegment, m.n, m.mean_acctbal, m.skewness, m.kurtosis,
  mo.mode_nation
FROM moments m JOIN modes mo USING (c_mktsegment)
ORDER BY c_mktsegment
"""


# ------------------------------------------------------------------ #
# q_event_trigrams
# ------------------------------------------------------------------ #

TRIGRAM_TOP_K = 20


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step event-type paths over per-user ordered streams."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path"), "cnt"
        )
        .orderBy(F.col("cnt").desc(), "path")
        .limit(TRIGRAM_TOP_K)
    )


Q_TRIGRAM_SQL = f"""
WITH seq AS (
  SELECT event_type AS e1,
    LEAD(event_type, 1) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS e2,
    LEAD(event_type, 2) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT e1 || '>' || e2 || '>' || e3 AS path,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1 ORDER BY cnt DESC, path
LIMIT {TRIGRAM_TOP_K}
"""


# ------------------------------------------------------------------ #
# q_holt_forecast
# ------------------------------------------------------------------ #

HOLT_ALPHA = 0.5
HOLT_BETA = 0.3
HOLT_HORIZON = 3


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per event type over the
    daily mean-value series, as a deterministic higher-order fold.

    Semantics (identical on both engines): state seeds at
    (level=x₁, trend=0); each later observation applies
    level' = α·x + (1−α)·(level+trend);
    trend' = β·(level'−level) + (1−β)·trend.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(24,6)")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("x")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("day", "x"))
        ).alias("pts")
    )
    xs = F.transform("pts", lambda p: p["x"])
    n = F.size("pts")
    init = F.struct(
        F.get(xs, 0).alias("l"), F.lit(0.0).alias("t")
    )
    a, b = HOLT_ALPHA, HOLT_BETA

    def step(acc: Column, x: Column) -> Column:
        new_l = a * x + (1.0 - a) * (acc["l"] + acc["t"])
        new_t = b * (new_l - acc["l"]) + (1.0 - b) * acc["t"]
        return F.struct(new_l.alias("l"), new_t.alias("t"))

    state = F.aggregate(F.slice(xs, 2, n - 1), init, step)
    return series.select(
        "event_type",
        n.alias("n_days"),
        F.round(state["l"], 6).alias("level"),
        F.round(state["t"], 6).alias("trend"),
        F.round(state["l"] + HOLT_HORIZON * state["t"], 6).alias(
            "forecast_3"
        ),
    ).orderBy("event_type")


Q_HOLT_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    ROUND(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS x
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, list(x ORDER BY day) AS xs
  FROM daily GROUP BY event_type
),
rec AS (
  SELECT event_type, xs, 1 AS i, xs[1] AS l, CAST(0.0 AS DOUBLE) AS t
  FROM series
  UNION ALL
  SELECT event_type, xs, i + 1,
    {HOLT_ALPHA} * xs[i + 1] + (1.0 - {HOLT_ALPHA}) * (l + t),
    {HOLT_BETA} * (({HOLT_ALPHA} * xs[i + 1]
                    + (1.0 - {HOLT_ALPHA}) * (l + t)) - l)
      + (1.0 - {HOLT_BETA}) * t
  FROM rec WHERE i < len(xs)
)
SELECT event_type, CAST(len(xs) AS INT) AS n_days,
  ROUND(l, 6) AS level, ROUND(t, 6) AS trend,
  ROUND(l + {HOLT_HORIZON} * t, 6) AS forecast_3
FROM rec WHERE i = len(xs) ORDER BY event_type
"""
# NOTE: the natural list_reduce oracle is unusable — DuckDB 1.0
# mutates the fold accumulator in place between struct-field
# evaluations from the second combine step on (field 2 sees field
# 1's NEW value), so any state whose fields read each other folds
# wrong.  WITH RECURSIVE evaluates each step from the old row and
# has no such aliasing.


# ------------------------------------------------------------------ #
# d_rake_keywords
# ------------------------------------------------------------------ #

RAKE_TOP_K = 25
RAKE_MIN_FREQ = 10


def d_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree/frequency keyword scores over the document corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # r9-opt (guide §2.4): the tokenized corpus feeds the bigram
    # degree pass and the unigram frequency pass; unstaged, the scan
    # + tokenize re-ran per consumer (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    toks = _stage(docs.select(tokens_expr(F.col("text")).alias("t")))
    n_bg = F.greatest(F.lit(0), F.size("t") - F.lit(1))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, n_bg),
                F.slice("t", 2, n_bg),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("bg")
    )
    degree = (
        bigrams.select(
            F.explode(F.array("bg.w1", "bg.w2")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("degree"))
    )
    freq = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= RAKE_MIN_FREQ)
    )
    return (
        freq.join(degree, "w")
        .select(
            F.col("w").alias("word"),
            "freq",
            "degree",
            F.round(
                F.col("degree").cast("double")
                / F.col("freq").cast("double"),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "word")
        .limit(RAKE_TOP_K)
    )


D_RAKE_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
),
bg AS (
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks
),
degree AS (
  SELECT w, COUNT(*) AS degree FROM (
    SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg
  ) GROUP BY w
),
freq AS (
  SELECT unnest(t) AS w FROM toks
),
fcnt AS (
  SELECT w, COUNT(*) AS freq FROM freq GROUP BY w
  HAVING COUNT(*) >= {RAKE_MIN_FREQ}
)
SELECT f.w AS word, CAST(f.freq AS BIGINT) AS freq,
  CAST(d.degree AS BIGINT) AS degree,
  ROUND(CAST(d.degree AS DOUBLE) / CAST(f.freq AS DOUBLE), 6)
    AS score
FROM fcnt f JOIN degree d USING (w)
ORDER BY score DESC, word
LIMIT {RAKE_TOP_K}
"""


# ------------------------------------------------------------------ #
# j_grid_close_pairs
# ------------------------------------------------------------------ #

GRID_RADIUS_DEG = 0.5


def j_grid_close_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer pairs within 0.5° (euclidean degree space) via 1°
    grid binning — the spatial-bin equi-join that replaces the O(n²)
    cross join at scale.

    Build side: one row per point keyed by its cell.  Probe side:
    each point explodes to its 3×3 cell neighborhood.  Candidates
    meet on the cell key (plain shuffle equi-join), then the exact
    distance predicate filters.  ``a < b`` dedups the symmetric pair
    (each unordered pair meets exactly once on the build point's
    home cell).
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            md5_bucket(F.col("c_custkey"), "glat:", 170_000).cast("double")
            / 1000.0
            - 85.0
        ).alias("lat"),
        (
            md5_bucket(F.col("c_custkey"), "glon:", 360_000).cast("double")
            / 1000.0
            - 180.0
        ).alias("lon"),
    )
    cell_x = F.floor(F.col("lon")).cast("long")
    cell_y = F.floor(F.col("lat")).cast("long")
    build = c.select(
        F.col("id").alias("a"),
        F.col("lat").alias("alat"),
        F.col("lon").alias("alon"),
        cell_x.alias("cx"),
        cell_y.alias("cy"),
    )
    probe = (
        c.select(
            F.col("id").alias("b"),
            F.col("lat").alias("blat"),
            F.col("lon").alias("blon"),
            F.explode(
                F.array(*[F.lit(d) for d in (-1, 0, 1)])
            ).alias("dx"),
            cell_x.alias("pcx"),
            cell_y.alias("pcy"),
        )
        .select(
            "b",
            "blat",
            "blon",
            (F.col("pcx") + F.col("dx")).alias("cx"),
            F.explode(
                F.array(*[F.lit(d) for d in (-1, 0, 1)])
            ).alias("dy"),
            "pcy",
        )
        .select(
            "b", "blat", "blon", "cx",
            (F.col("pcy") + F.col("dy")).alias("cy"),
        )
    )
    dlat = F.col("alat") - F.col("blat")
    dlon = F.col("alon") - F.col("blon")
    dist = F.sqrt(dlat * dlat + dlon * dlon)
    pairs = (
        build.join(probe, ["cx", "cy"])
        .filter(F.col("a") < F.col("b"))
        .filter(dist < GRID_RADIUS_DEG)
        .select("a", "b", F.round(dist, 6).alias("dist_deg"))
    )
    return pairs.orderBy("a", "b")


J_GRID_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS id,
    CAST(CAST(('0x' || substring(md5('glat:' || CAST(c_custkey AS VARCHAR)),
                                 1, 13)) AS UBIGINT) % 170000 AS DOUBLE)
      / 1000 - 85 AS lat,
    CAST(CAST(('0x' || substring(md5('glon:' || CAST(c_custkey AS VARCHAR)),
                                 1, 13)) AS UBIGINT) % 360000 AS DOUBLE)
      / 1000 - 180 AS lon
  FROM customer
)
SELECT p.id AS a, q.id AS b,
  ROUND(SQRT((p.lat - q.lat) * (p.lat - q.lat)
             + (p.lon - q.lon) * (p.lon - q.lon)), 6) AS dist_deg
FROM pts p JOIN pts q ON p.id < q.id
WHERE SQRT((p.lat - q.lat) * (p.lat - q.lat)
           + (p.lon - q.lon) * (p.lon - q.lon)) < {GRID_RADIUS_DEG}
ORDER BY a, b
"""


SPECS = [
    QuerySpec(
        "q_moment_stats",
        q_moment_stats,
        Q_MOMENTS_SQL,
        doc="per-segment skew/kurtosis from decimal power sums + modal nation",
        tags=("stats",),
    ),
    QuerySpec(
        "q_event_trigrams",
        q_event_trigrams,
        Q_TRIGRAM_SQL,
        doc="top 3-step event-type paths (per-user ordered windows)",
        tags=("events", "sequence"),
    ),
    QuerySpec(
        "q_holt_forecast",
        q_holt_forecast,
        Q_HOLT_SQL,
        doc="Holt double-exponential smoothing via deterministic fold",
        tags=("timeseries",),
    ),
    QuerySpec(
        "d_rake_keywords",
        d_rake_keywords,
        D_RAKE_SQL,
        doc="degree/frequency keyword scores (RAKE-lite)",
        tags=("text", "nlp"),
    ),
    QuerySpec(
        "j_grid_close_pairs",
        j_grid_close_pairs,
        J_GRID_SQL,
        doc="0.5-degree proximity pairs via 1-degree grid-bin equi-join",
        tags=("spatial", "join"),
    ),
]
