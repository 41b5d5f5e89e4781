"""Thirty-first wave: BPE tokenizer training, join-skew diagnostics,
exact weighted median, and conversion-latency analytics.

Reference parity note: engine-native analytics + the tokenizer-
factory op (BASELINE.json's LLM-pipeline axis).  BPE has no SQL
oracle by nature (a K-round loop; see operators/bpe.py) — its spec
is the exact pure-Python reference in tests/test_bpe.py; the other
three carry exact DuckDB oracles.

- **BPE merges** (`d_bpe_merges`) — train 10 byte-pair-encoding
  merges on the document corpus (`operators/bpe.py`): vocabulary
  collapse once, then per-round pair counts (map-side combinable) +
  an O(1) driver collect of the winning pair + a codegen merge fold.
- **BPE encode** (`d_bpe_encode_stats`) — apply the trained merge
  table and report per-language token counts and chars-per-token
  compression; the encode is a chain of row-local folds, no UDF.
- **Skew report** (`q_skew_report`) — the pre-join diagnostic a
  100 TB pipeline runs before shuffling on a key: per-key counts →
  max / mean / p99 / skew ratio + the top hot keys.  One pass, one
  tiny percentile agg.
- **Weighted median** (`q_weighted_median_price`) — exact
  quantity-weighted median unit price per returnflag: cumulative
  weights over the per-(flag, price) rollup, first value whose
  cumulative weight reaches half the total.  Integer/decimal math
  end-to-end — no interpolation ambiguity.
- **Conversion latency** (`q_conversion_latency`) — signup→first-
  purchase latency per user (exact µs), with conversion counts and
  mean/median latency per cohort of signup week.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.bpe import encode_with_merges, train_bpe
from idn_area_etl_spark.operators.ranks import (
    global_running_multi,
    grouped_running_multi,
)
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

BPE_N_MERGES = 10

#: per-sf_dir cache so d_bpe_merges / d_bpe_encode_stats train once.
_BPE_CACHE: dict[str, list[dict]] = {}


def _merges_for(spark: SparkSession, sf_dir: str) -> list[dict]:
    if sf_dir not in _BPE_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        _BPE_CACHE[sf_dir] = train_bpe(docs, n_merges=BPE_N_MERGES)
    return _BPE_CACHE[sf_dir]


def d_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge table (round, left, right, merged, count)."""
    merges = _merges_for(spark, sf_dir)
    return spark.createDataFrame(
        [
            (m["round"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "round int, left string, right string, merged string, pair_count long",
    ).orderBy("round")


def d_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BPE token counts + chars-per-token compression."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _merges_for(spark, sf_dir)
    encoded = encode_with_merges(docs, merges)
    return (
        encoded.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("decimal(20,0)"))
            .cast("long")
            .alias("total_tokens"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(20,0)")).cast("double")
                / F.sum(F.col("n_tokens").cast("decimal(20,0)")).cast(
                    "double"
                ),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------------------ #
# d_bpe_merges_planted
# ------------------------------------------------------------------ #

#: Planted 5-word corpus: residues of doc_id % 32 → a two-letter word,
#: bucket sizes 17/8/4/2/1 so word frequencies are STRICTLY ordered
#: (f1 > f2 > ... > f5 for every n ≥ 64; doc_id is contiguous 0..n-1
#: at all SFs, and the margin (size_i - size_{i+1})·⌊n/32⌋ > size_{i+1}
#: holds from ⌊n/32⌋ ≥ 2).
_BPE_PLANT_WORDS = ("ab", "cd", "ef", "gh", "ij")


def _bpe_plant_word() -> F.Column:
    r = F.col("doc_id") % 32
    return (
        F.when((r < 16) | (r == 31), F.lit("ab"))
        .when(r < 24, F.lit("cd"))
        .when(r < 28, F.lit("ef"))
        .when(r < 30, F.lit("gh"))
        .otherwise(F.lit("ij"))
    )


def d_bpe_merges_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted BPE merge-sequence fixed point: run the REAL
    ``operators/bpe.train_bpe`` loop (same vocabulary collapse, same
    pair-count aggregation, same top-1 tie-break, same codegen merge
    fold as ``d_bpe_merges``) on a corpus whose merge sequence is
    FORCED by construction, so the twin-less rows-only spec's exact
    plan gets a cross-engine SQL oracle (r8; the planted fixed-point
    pattern's fifth application after isotonic/eigvec).

    Construction: each document is ONE of five two-letter words over
    disjoint letters, with strictly ordered frequencies
    f(ab) > f(cd) > f(ef) > f(gh) > f(ij) planted via doc_id % 32
    bucket sizes 17/8/4/2/1.  Within word k = (x, y, </w>) both pairs
    (x,y) and (y,</w>) carry count f_k, and the operator tie-breaks
    equal counts by (left, right) lexicographically with x < y <
    every later word's letters ("</w>" sorts before letters but can
    only appear as a RIGHT symbol), so the 10-round sequence is
    exactly: merge (x_k, y_k) then (x_k y_k, </w>) for k = 1..5 in
    frequency order, each round's winning pair_count being the exact
    integer f_k — zero floating point anywhere, every emitted cell
    bit-identical in both engines.  If the frequency plant ever broke
    strict ordering the sequence would diverge and the hash gate
    would catch it; strictness is proven above for n ≥ 64 and the
    smallest SF has n = 500.
    """
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(_bpe_plant_word().alias("text"))
    # no cache: each invocation retrains so layout-invariance runs
    # exercise the full loop (the d_bpe_merges cache would hide them)
    merges = train_bpe(planted, n_merges=BPE_N_MERGES)
    return spark.createDataFrame(
        [
            (m["round"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "round int, left string, right string, merged string, pair_count long",
    ).orderBy("round")


D_BPE_PLANTED_SQL = """
WITH f AS (
  SELECT
    CAST(SUM(CASE WHEN doc_id % 32 < 16 OR doc_id % 32 = 31
             THEN 1 ELSE 0 END) AS BIGINT) AS f1,
    CAST(SUM(CASE WHEN doc_id % 32 BETWEEN 16 AND 23
             THEN 1 ELSE 0 END) AS BIGINT) AS f2,
    CAST(SUM(CASE WHEN doc_id % 32 BETWEEN 24 AND 27
             THEN 1 ELSE 0 END) AS BIGINT) AS f3,
    CAST(SUM(CASE WHEN doc_id % 32 IN (28, 29)
             THEN 1 ELSE 0 END) AS BIGINT) AS f4,
    CAST(SUM(CASE WHEN doc_id % 32 = 30
             THEN 1 ELSE 0 END) AS BIGINT) AS f5
  FROM documents
)
SELECT r.round, r."left", r."right", r."left" || r."right" AS merged,
  CASE r.word WHEN 1 THEN f.f1 WHEN 2 THEN f.f2 WHEN 3 THEN f.f3
       WHEN 4 THEN f.f4 ELSE f.f5 END AS pair_count
FROM (VALUES
  (1, 'a', 'b', 1), (2, 'ab', '</w>', 1),
  (3, 'c', 'd', 2), (4, 'cd', '</w>', 2),
  (5, 'e', 'f', 3), (6, 'ef', '</w>', 3),
  (7, 'g', 'h', 4), (8, 'gh', '</w>', 4),
  (9, 'i', 'j', 5), (10, 'ij', '</w>', 5)
) AS r(round, "left", "right", word), f
ORDER BY r.round
"""


# ------------------------------------------------------------------ #
# q_skew_report
# ------------------------------------------------------------------ #

SKEW_TOP_KEYS = 5


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for lineitem.l_orderkey: count stats
    + skew ratio + hottest keys."""
    li = load_table(spark, sf_dir, "lineitem")
    # r9-opt (guide §2.4): per_key feeds the p99 rollup, the stats
    # aggregate and the hot-key probe; unstaged, the lineitem scan +
    # rollup re-ran per consumer (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    per_key = _stage(
        li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    )
    # discrete p99 (stored count at rank ceil(0.99 n)) — never a
    # cross-engine float-interpolated percentile (the r6
    # a_quantile_sketch red-row class); rank-selected from running
    # counts over the tiny distinct-count rollup
    rolled = per_key.groupBy("cnt").agg(F.count("*").alias("kc"))
    run = global_running_multi(rolled, [F.col("cnt")], {"k": F.col("kc")})
    t99 = F.expr("(99 * tot_k + 99) div 100")
    p99 = run.filter(
        (F.col("cum_k") - F.col("kc") < t99) & (t99 <= F.col("cum_k"))
    ).select(F.col("cnt").cast("double").alias("p99_cnt"))
    stats = per_key.agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("cnt").cast("decimal(20,0)")).alias("total"),
    ).crossJoin(F.broadcast(p99)).select(
        "n_keys",
        "max_cnt",
        "p99_cnt",
        F.round(
            F.col("max_cnt").cast("double")
            / (
                F.col("total").cast("double") / F.col("n_keys").cast("double")
            ),
            6,
        ).alias("skew_ratio"),
    )
    top = (
        per_key.orderBy(F.desc("cnt"), "l_orderkey")
        .limit(SKEW_TOP_KEYS)
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("l_orderkey")), ","
            ).alias("hot_keys")
        )
    )
    return stats.crossJoin(F.broadcast(top))


Q_SKEW_SQL = f"""
WITH per_key AS (
  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
),
p99r AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt) AS rn,
    COUNT(*) OVER () AS n
  FROM per_key
),
p99 AS (
  SELECT CAST(cnt AS DOUBLE) AS p99_cnt
  FROM p99r WHERE rn = (99 * n + 99) // 100
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
    CAST(MAX(cnt) AS BIGINT) AS max_cnt,
    ROUND(CAST(MAX(cnt) AS DOUBLE)
          / (CAST(SUM(CAST(cnt AS DECIMAL(20,0))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)), 6) AS skew_ratio
  FROM per_key
),
top AS (
  SELECT array_to_string(list_sort(list(l_orderkey)), ',') AS hot_keys
  FROM (
    SELECT l_orderkey FROM per_key
    ORDER BY cnt DESC, l_orderkey LIMIT {SKEW_TOP_KEYS}
  )
)
SELECT s.n_keys, s.max_cnt, p.p99_cnt, s.skew_ratio, t.hot_keys
FROM stats s CROSS JOIN p99 p CROSS JOIN top t
"""


# ------------------------------------------------------------------ #
# q_weighted_median_price
# ------------------------------------------------------------------ #


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median unit price per returnflag.

    Scale (r7, window-funnel gate): the cumulative weights come from
    ``ranks.grouped_running_multi`` — l_returnflag has a 3-value
    domain, so a plain per-flag window would stream a third of the
    distinct-price rollup (data-scaled) through one task."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
    rolled = li.groupBy(
        "l_returnflag", unit.alias("price")
    ).agg(F.sum(F.col("l_quantity").cast("decimal(20,2)")).alias("w"))
    cum = grouped_running_multi(
        rolled, ["l_returnflag"], [F.col("price")], {"w": F.col("w")}
    ).select(
        "l_returnflag",
        "price",
        F.col("grun_w").alias("cumw"),
        F.col("gtot_w").alias("totw"),
    )
    hit = cum.filter(F.col("cumw") * 2 >= F.col("totw"))
    return (
        hit.groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.max(F.col("totw").cast("double")).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


Q_WMEDIAN_SQL = """
WITH rolled AS (
  SELECT l_returnflag,
    ROUND(l_extendedprice / l_quantity, 6) AS price,
    SUM(CAST(l_quantity AS DECIMAL(20,2))) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, price,
    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
    SUM(w) OVER (PARTITION BY l_returnflag) AS totw
  FROM rolled
)
SELECT l_returnflag,
  MIN(price) AS weighted_median_price,
  MAX(CAST(totw AS DOUBLE)) AS total_weight
FROM cum WHERE cumw * 2 >= totw
GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ------------------------------------------------------------------ #
# q_conversion_latency
# ------------------------------------------------------------------ #


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase latency per user (exact µs), rolled up
    by signup week."""
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("signup_ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("any_purchase_ts"))
    conv = (
        signups.join(purchases, "user_id", "left")
        .select(
            F.trunc(F.to_date("signup_ts"), "week").alias("signup_week"),
            F.when(
                F.col("any_purchase_ts") >= F.col("signup_ts"),
                F.unix_micros("any_purchase_ts")
                - F.unix_micros("signup_ts"),
            ).alias("latency_us"),
        )
    )
    return (
        conv.groupBy("signup_week")
        .agg(
            F.count("*").alias("n_signups"),
            F.count("latency_us").alias("n_converted"),
            F.round(
                F.sum(F.col("latency_us").cast("decimal(24,0)")).cast(
                    "double"
                )
                / F.count("latency_us").cast("double")
                / 3600e6,
                6,
            ).alias("mean_latency_hours"),
        )
        .orderBy("signup_week")
    )


Q_CONVLAT_SQL = """
WITH signups AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
purchases AS (
  SELECT user_id, MIN(ts) AS any_purchase_ts
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
conv AS (
  SELECT date_trunc('week', CAST(s.signup_ts AS DATE)) AS signup_week,
    CASE WHEN p.any_purchase_ts >= s.signup_ts
         THEN epoch_us(p.any_purchase_ts) - epoch_us(s.signup_ts)
    END AS latency_us
  FROM signups s LEFT JOIN purchases p USING (user_id)
)
SELECT signup_week, CAST(COUNT(*) AS BIGINT) AS n_signups,
  CAST(COUNT(latency_us) AS BIGINT) AS n_converted,
  ROUND(CAST(SUM(CAST(latency_us AS DECIMAL(24,0))) AS DOUBLE)
        / CAST(COUNT(latency_us) AS DOUBLE) / 3600e6, 6)
    AS mean_latency_hours
FROM conv GROUP BY signup_week ORDER BY signup_week
"""


SPECS = [
    QuerySpec(
        "d_bpe_merges",
        d_bpe_merges,
        None,
        doc="10-round distributed BPE merge table (Python-reference spec)",
        tags=("text", "tokenizer"),
    ),
    QuerySpec(
        "d_bpe_encode_stats",
        d_bpe_encode_stats,
        None,
        doc="per-language BPE token counts + compression",
        tags=("text", "tokenizer"),
    ),
    QuerySpec(
        "d_bpe_merges_planted",
        d_bpe_merges_planted,
        D_BPE_PLANTED_SQL,
        doc="planted forced merge sequence: exact oracle for the real "
        "BPE training loop (fifth planted fixed point)",
        tags=("text", "tokenizer", "planted"),
    ),
    QuerySpec(
        "q_skew_report",
        q_skew_report,
        Q_SKEW_SQL,
        doc="join-key skew diagnostic: stats + skew ratio + hot keys",
        tags=("quality", "skew"),
    ),
    QuerySpec(
        "q_weighted_median_price",
        q_weighted_median_price,
        Q_WMEDIAN_SQL,
        doc="exact quantity-weighted median unit price per flag",
        tags=("stats", "window"),
    ),
    QuerySpec(
        "q_conversion_latency",
        q_conversion_latency,
        Q_CONVLAT_SQL,
        doc="signup-to-first-purchase latency by signup week",
        tags=("events", "funnel"),
    ),
]
