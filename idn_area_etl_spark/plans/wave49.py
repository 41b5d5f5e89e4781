"""Forty-ninth wave: sequential-pattern support, power analysis,
and importance resampling.

Reference parity note: behavioral mining + experiment design +
data-selection extensions; every query carries an exact DuckDB
oracle.

- **Sequential pattern support** (`q_seq_pattern_support`) — support
  of every ordered event-type pair "a ... then b" (any gap): a user
  supports (a,b) iff their earliest a precedes their latest b.
  That reduction turns subsequence matching into two per-user-type
  aggregates — no per-row sequence scan, no self-join on events.
- **Sample-size calculator** (`a_sample_size_power`) — required
  users per arm to detect a relative lift in the observed purchase
  rate at alpha = 0.05 (two-sided), power = 0.8: the closed-form
  two-proportion formula (z constants as literals, sqrt-only float
  path) evaluated for 1%, 2%, 5%, 10% relative MDEs against the
  corpus-wide base rate.
- **Importance resampling** (`s_importance_resample`) — completes
  wave-44 DSIR: keep each document where a deterministic md5
  uniform falls under sigmoid(llr score); reports per-language
  kept counts and token budgets.  Selection stays fully
  reproducible (hash-seeded, no RNG).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# q_seq_pattern_support
# ------------------------------------------------------------------ #


def q_seq_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support (user count) of every ordered event-type pair
    "a ... then b" with arbitrary gap."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    a = per.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("etype_a"),
        F.col("first_ts").alias("fa"),
    )
    b = per.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("etype_b"),
        F.col("last_ts").alias("lb"),
    )
    tot = ev.select("user_id").distinct().count()
    return (
        a.join(b, "u")
        .filter(
            (F.col("etype_a") != F.col("etype_b"))
            & (F.col("fa") < F.col("lb"))
        )
        .groupBy("etype_a", "etype_b")
        .agg(F.count("*").alias("support_users"))
        .select(
            "etype_a",
            "etype_b",
            "support_users",
            F.round(
                F.col("support_users").cast("double") / F.lit(tot), 6
            ).alias("support_frac"),
        )
        .orderBy("etype_a", "etype_b")
    )


Q_SEQPAIR_SQL = """
WITH per AS (
  SELECT user_id, event_type, MIN(ts) AS first_ts, MAX(ts) AS last_ts
  FROM events GROUP BY user_id, event_type
),
tot AS (SELECT COUNT(DISTINCT user_id) AS n FROM events)
SELECT a.event_type AS etype_a, b.event_type AS etype_b,
  CAST(COUNT(*) AS BIGINT) AS support_users,
  ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(tot.n), 6)
    AS support_frac
FROM per a
JOIN per b ON a.user_id = b.user_id AND a.event_type <> b.event_type
CROSS JOIN tot
WHERE a.first_ts < b.last_ts
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------------------------ #
# a_sample_size_power
# ------------------------------------------------------------------ #

_MDES = (0.01, 0.02, 0.05, 0.10)


def a_sample_size_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users-per-arm needed to detect a relative MDE on the purchase
    rate (alpha=.05 two-sided, power=.8)."""
    ev = load_table(spark, sf_dir, "events")
    # r8-opt: the 1-row base-rate aggregate is consumed once per MDE
    # in the union — unstaged, every branch re-ran the full events
    # scan (4 scans in the captured plan); staged it runs once
    # (guide §2.4).
    base = _stage(ev.agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long")).cast(
                "double"
            )
            / F.count("*")
        ).alias("p1")
    ))
    za, zb = F.lit(1.959964), F.lit(0.841621)
    rows = None
    for mde in _MDES:
        p1 = F.col("p1")
        p2 = p1 * (1.0 + F.lit(mde))
        pbar = (p1 + p2) / 2.0
        num = za * F.sqrt(2.0 * pbar * (1.0 - pbar)) + zb * F.sqrt(
            p1 * (1.0 - p1) + p2 * (1.0 - p2)
        )
        n = F.ceil(num * num / ((p2 - p1) * (p2 - p1))).cast("long")
        one = base.select(
            F.lit(mde).alias("rel_mde"),
            F.round(p1, 6).alias("base_rate"),
            F.round(p2, 6).alias("target_rate"),
            n.alias("n_per_arm"),
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows.orderBy("rel_mde")


A_POWER_SQL = """
WITH base AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*) AS p1
  FROM events
),
mdes AS (SELECT CAST(unnest([0.01, 0.02, 0.05, 0.10]) AS DOUBLE)
           AS rel_mde),
terms AS (
  SELECT rel_mde, p1, p1 * (1.0 + rel_mde) AS p2,
    1.959964 * sqrt(2.0 * ((p1 + p1 * (1.0 + rel_mde)) / 2.0)
        * (1.0 - (p1 + p1 * (1.0 + rel_mde)) / 2.0))
      + 0.841621 * sqrt(p1 * (1.0 - p1)
        + p1 * (1.0 + rel_mde) * (1.0 - p1 * (1.0 + rel_mde))) AS num
  FROM base CROSS JOIN mdes
)
SELECT rel_mde, ROUND(p1, 6) AS base_rate, ROUND(p2, 6) AS target_rate,
  CAST(CEIL(num * num / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm
FROM terms ORDER BY rel_mde
"""


# ------------------------------------------------------------------ #
# s_importance_resample
# ------------------------------------------------------------------ #


def s_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: keep doc iff md5-uniform < sigmoid(llr score);
    per-language kept share and token budget."""
    docs = load_table(spark, sf_dir, "documents")
    # r9-opt (guide §2.3/§2.4): the corpus is tokenized ONCE into the
    # staged row-local run-length rollup (doc, lang, w, cnt) — the
    # wave44 d_dsir_weights recipe, equality with explode → groupBy
    # pinned by tests/test_plans_wave44.py — and both the vocabulary
    # fit and the per-doc scoring read it.  Unstaged, the explode ran
    # twice (2 duplicate corpus scans) and every exchange carried
    # occurrences instead of distinct (doc, w) pairs.  Exactness: rc /
    # tc / n_toks are sums of cnt (= the occurrence counts); the score
    # is sum(cnt copies of lr) = lr·cnt in exact decimal.
    from idn_area_etl_spark.operators.stage import _stage
    from idn_area_etl_spark.plans.wave44 import doc_token_counts

    tok = _stage(doc_token_counts(docs))
    vocab = _stage(
        tok.groupBy("w").agg(
            F.sum("cnt").alias("rc"),
            F.sum(
                F.when(F.col("lang") == "en", F.col("cnt")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("tc"),
        )
    )
    totals = vocab.agg(
        F.sum("rc").alias("R"), F.sum("tc").alias("T"), F.count("*").alias("V")
    )
    ratio = vocab.crossJoin(F.broadcast(totals)).select(
        "w",
        (
            F.log((F.col("tc") + 1).cast("double") / (F.col("T") + F.col("V")))
            - F.log(
                (F.col("rc") + 1).cast("double") / (F.col("R") + F.col("V"))
            )
        ).alias("lr"),
    )
    scores = (
        tok.join(F.broadcast(ratio), "w")
        .groupBy("doc_id", "lang")
        .agg(
            # cnt cast to decimal(10,0) keeps the product at
            # decimal(38,12) — EXACT (a bare long multiplicand pushes
            # precision past 38 and Spark silently reduces the scale)
            F.sum(
                F.col("lr").cast("decimal(27,12)")
                * F.col("cnt").cast("decimal(10,0)")
            )
            .cast("double")
            .alias("score"),
            F.sum("cnt").alias("n_toks"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("keep:"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**52))
    )
    keep = (u < 1.0 / (1.0 + F.exp(-F.col("score")))).cast("long")
    return (
        scores.select("lang", "n_toks", keep.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum(
                (F.col("kept") * F.col("n_toks")).cast("decimal(20,0)")
            )
            .cast("long")
            .alias("kept_tokens"),
            F.round(
                F.sum("kept").cast("double") / F.count("*"), 6
            ).alias("kept_share"),
        )
        .orderBy("lang")
    )


S_RESAMPLE_SQL = r"""
WITH occ AS (
  SELECT doc_id, lang, unnest(
    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x <> '')) AS w
  FROM documents
),
vocab AS (
  SELECT w, COUNT(*) AS rc,
    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
  FROM occ GROUP BY w
),
totals AS (SELECT SUM(rc) AS R, SUM(tc) AS T, COUNT(*) AS V FROM vocab),
ratio AS (
  SELECT w,
    ln(CAST(tc + 1 AS DOUBLE) / (T + V))
      - ln(CAST(rc + 1 AS DOUBLE) / (R + V)) AS lr
  FROM vocab CROSS JOIN totals
),
scores AS (
  SELECT occ.doc_id, occ.lang,
    CAST(SUM(CAST(lr AS DECIMAL(27,12))) AS DOUBLE) AS score,
    COUNT(*) AS n_toks
  FROM occ JOIN ratio USING (w)
  GROUP BY occ.doc_id, occ.lang
),
kept AS (
  SELECT lang, n_toks,
    CASE WHEN CAST(CAST(('0x' || substring(
        md5('keep:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT)
        AS DOUBLE) / 4503599627370496.0
      < 1.0 / (1.0 + exp(-score)) THEN 1 ELSE 0 END AS kept
  FROM scores
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(kept) AS BIGINT) AS n_kept,
  CAST(SUM(CAST(kept * n_toks AS DECIMAL(20,0))) AS BIGINT)
    AS kept_tokens,
  ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 6) AS kept_share
FROM kept GROUP BY lang ORDER BY lang
"""


SPECS = [
    QuerySpec(
        "q_seq_pattern_support",
        q_seq_pattern_support,
        Q_SEQPAIR_SQL,
        doc="ordered event-type pair support via first/last reduction",
        tags=("events", "mining"),
    ),
    QuerySpec(
        "a_sample_size_power",
        a_sample_size_power,
        A_POWER_SQL,
        doc="two-proportion sample-size calculator (alpha=.05, power=.8)",
        tags=("experimentation", "stats"),
    ),
    QuerySpec(
        "s_importance_resample",
        s_importance_resample,
        S_RESAMPLE_SQL,
        doc="DSIR keep/drop via md5 uniform vs sigmoid(llr), per-lang budget",
        tags=("dataset-prep", "sampling"),
    ),
]
