"""Forty-eighth wave: cumulative gains, Wilson intervals, and
Heaps'-law vocabulary growth.

Reference parity note: ML-evaluation + corpus-diagnostics extensions;
every query carries an exact DuckDB oracle.

- **Cumulative gains** (`a_cumulative_gains`) — the decile lift
  table: score-ranked deciles (ntile over a unique ordering), per
  decile the positive capture rate, cumulative capture, and lift
  vs the base rate.  One global sort (the same shuffle an ORDER BY
  needs), integer counts everywhere.
- **Wilson interval** (`q_hourly_conversion_wilson`) — per
  hour-of-day purchase share of events with 95% Wilson score
  bounds; the small-sample-safe proportion CI (z = 1.96 literal,
  sqrt-only float path).
- **Heaps' law** (`d_vocab_growth`) — vocabulary-growth diagnostic:
  distinct vocabulary after each decile of the doc_id-ordered
  corpus stream, via each token's FIRST-seen position (no
  cumulative-distinct window needed), plus the log-log OLS slope
  (Heaps beta) replicated per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.ranks import global_ntile
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table
from idn_area_etl_spark.plans.wave32 import _score_expr, _score_sql


# ------------------------------------------------------------------ #
# a_cumulative_gains
# ------------------------------------------------------------------ #


def a_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile cumulative-gains table for the wave-32 logistic scorer."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        _score_expr(F.col("embedding")).alias("score"),
        (F.col("label") % 2 == 1).cast("long").alias("y"),
    )
    # per-vector deciles are unbounded at scale: distributed
    # range-partitioned ntile, not a single-partition window sort
    per_dec = (
        global_ntile(
            scored,
            [F.col("score").desc(), F.col("vec_id").asc()],
            10,
            out="decile",
        )
        .select("decile", "y")
        .groupBy("decile")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per_dec.agg(
        F.sum("n").alias("n_tot"), F.sum("pos").alias("pos_tot")
    )
    cum = per_dec.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("pos").over(w).alias("cum_pos"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n",
            "pos",
            F.round(
                F.col("cum_pos").cast("double") / F.col("pos_tot"), 6
            ).alias("cum_capture"),
            F.round(
                (F.col("cum_pos").cast("double") / F.col("cum_n"))
                / (F.col("pos_tot").cast("double") / F.col("n_tot")),
                6,
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


A_GAINS_SQL = f"""
WITH scored AS (
  SELECT vec_id, {_score_sql()} AS score,
    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
decs AS (
  SELECT NTILE(10) OVER (ORDER BY score DESC, vec_id) AS decile, y
  FROM scored
),
per_dec AS (
  SELECT decile, COUNT(*) AS n, SUM(y) AS pos
  FROM decs GROUP BY decile
),
tot AS (SELECT SUM(n) AS n_tot, SUM(pos) AS pos_tot FROM per_dec),
cum AS (
  SELECT decile, n, pos,
    SUM(n) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cum_n,
    SUM(pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cum_pos
  FROM per_dec
)
SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n,
  CAST(pos AS BIGINT) AS pos,
  ROUND(CAST(cum_pos AS DOUBLE) / pos_tot, 6) AS cum_capture,
  ROUND((CAST(cum_pos AS DOUBLE) / cum_n)
        / (CAST(pos_tot AS DOUBLE) / n_tot), 6) AS cum_lift
FROM cum CROSS JOIN tot
ORDER BY decile
"""


# ------------------------------------------------------------------ #
# q_hourly_conversion_wilson
# ------------------------------------------------------------------ #


def q_hourly_conversion_wilson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchase share per hour-of-day with the 95% Wilson interval."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.hour("ts").alias("hour")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "k"
        ),
    )
    z = F.lit(1.96)
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = 1.0 + z * z / n
    center = p + z * z / (2.0 * n)
    half = z * F.sqrt(
        (p * (1.0 - p) + z * z / (4.0 * n)) / n
    )
    return counts.select(
        F.col("hour").cast("int").alias("hour"),
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("hour")


Q_WILSON_SQL = """
WITH counts AS (
  SELECT hour(ts) AS hour, COUNT(*) AS n,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
  FROM events GROUP BY 1
)
SELECT CAST(hour AS INT) AS hour, CAST(n AS BIGINT) AS n,
  CAST(k AS BIGINT) AS k,
  ROUND(CAST(k AS DOUBLE) / n, 6) AS rate,
  ROUND(((CAST(k AS DOUBLE) / n) + 1.96 * 1.96 / (2.0 * n)
    - 1.96 * sqrt(((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n)
                   + 1.96 * 1.96 / (4.0 * n)) / n))
    / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_lo,
  ROUND(((CAST(k AS DOUBLE) / n) + 1.96 * 1.96 / (2.0 * n)
    + 1.96 * sqrt(((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n)
                   + 1.96 * 1.96 / (4.0 * n)) / n))
    / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_hi
FROM counts ORDER BY hour
"""


# ------------------------------------------------------------------ #
# d_vocab_growth
# ------------------------------------------------------------------ #


def d_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct vocabulary vs tokens
    streamed, sampled at each decile of the doc_id order, plus the
    global log-log OLS slope."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    base = docs.select("doc_id", toks.alias("ws"))
    # doc -> decile by doc_id order
    # per-doc deciles are unbounded at scale: distributed ntile
    # r8-opt: staged + projected early (doc_id is unused downstream)
    # — ranked feeds both the token totals and the first-seen rollup;
    # unstaged, each consumer re-ran the scan + split + global ntile.
    ranked = _stage(
        global_ntile(
            base, [F.col("doc_id").asc()], 10, out="decile"
        ).select("decile", "ws")
    )
    # tokens per decile (then cumulative)
    tokens_per_dec = ranked.groupBy("decile").agg(
        F.sum(F.size("ws").cast("long")).alias("toks")
    )
    # each word's first-seen decile
    first_seen = (
        ranked.select(
            "decile", F.explode("ws").alias("w")
        )
        .groupBy("w")
        .agg(F.min("decile").alias("first_dec"))
        .groupBy("first_dec")
        .agg(F.count("*").alias("new_words"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    merged = (
        tokens_per_dec.join(
            first_seen.withColumnRenamed("first_dec", "decile"),
            "decile",
            "left",
        )
        .select(
            "decile",
            "toks",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        )
        .select(
            "decile",
            F.sum("toks").over(w).alias("cum_tokens"),
            F.sum("new_words").over(w).alias("vocab"),
        )
    )
    pts = merged.select(
        "decile",
        "cum_tokens",
        "vocab",
        F.log(F.col("cum_tokens").cast("double")).alias("lx"),
        F.log(F.col("vocab").cast("double")).alias("ly"),
    )
    ols = pts.agg(
        F.count("*").alias("m"),
        F.sum(F.col("lx").cast("decimal(27,12)")).alias("sx"),
        F.sum(F.col("ly").cast("decimal(27,12)")).alias("sy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(27,12)")).alias(
            "sxx"
        ),
        F.sum((F.col("lx") * F.col("ly")).cast("decimal(27,12)")).alias(
            "sxy"
        ),
    ).select(
        "m",
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m")
    )
    return (
        pts.crossJoin(F.broadcast(ols))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "cum_tokens",
            "vocab",
            F.round(beta, 6).alias("heaps_beta"),
        )
        .orderBy("decile")
    )


D_HEAPS_SQL = r"""
WITH base AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x <> '') AS ws
  FROM documents
),
ranked AS (
  SELECT doc_id, ws, NTILE(10) OVER (ORDER BY doc_id) AS decile
  FROM base
),
tokens_per_dec AS (
  SELECT decile, CAST(SUM(len(ws)) AS BIGINT) AS toks
  FROM ranked GROUP BY decile
),
first_seen AS (
  SELECT w, MIN(decile) AS first_dec
  FROM (SELECT decile, unnest(ws) AS w FROM ranked)
  GROUP BY w
),
new_per_dec AS (
  SELECT first_dec AS decile, COUNT(*) AS new_words
  FROM first_seen GROUP BY first_dec
),
merged AS (
  SELECT t.decile,
    SUM(t.toks) OVER (ORDER BY t.decile ROWS BETWEEN UNBOUNDED
      PRECEDING AND CURRENT ROW) AS cum_tokens,
    SUM(COALESCE(n.new_words, 0)) OVER (ORDER BY t.decile ROWS
      BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vocab
  FROM tokens_per_dec t LEFT JOIN new_per_dec n USING (decile)
),
pts AS (
  SELECT decile, cum_tokens, vocab,
    ln(CAST(cum_tokens AS DOUBLE)) AS lx,
    ln(CAST(vocab AS DOUBLE)) AS ly
  FROM merged
),
ols AS (
  SELECT COUNT(*) AS m,
    CAST(SUM(CAST(lx AS DECIMAL(27,12))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(ly AS DECIMAL(27,12))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(lx * lx AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(lx * ly AS DECIMAL(27,12))) AS DOUBLE) AS sxy
  FROM pts
)
SELECT CAST(decile AS INT) AS decile,
  CAST(cum_tokens AS BIGINT) AS cum_tokens,
  CAST(vocab AS BIGINT) AS vocab,
  ROUND((sxy - sx * sy / m) / (sxx - sx * sx / m), 6) AS heaps_beta
FROM pts CROSS JOIN ols
ORDER BY decile
"""


SPECS = [
    QuerySpec(
        "a_cumulative_gains",
        a_cumulative_gains,
        A_GAINS_SQL,
        doc="decile cumulative-gains / lift table for the logistic scorer",
        tags=("ml-eval",),
    ),
    QuerySpec(
        "q_hourly_conversion_wilson",
        q_hourly_conversion_wilson,
        Q_WILSON_SQL,
        doc="hour-of-day purchase share with 95% Wilson bounds",
        tags=("events", "stats"),
    ),
    QuerySpec(
        "d_vocab_growth",
        d_vocab_growth,
        D_HEAPS_SQL,
        doc="Heaps'-law vocab growth over doc-ordered deciles + OLS beta",
        tags=("text", "dataset-prep"),
    ),
]
