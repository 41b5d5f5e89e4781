"""Eighty-second wave: matching estimators, dedup threshold curves,
and price-ending analysis.

Reference parity note: observational causal inference + dedup tuning
+ pricing forensics; every query carries an exact DuckDB oracle.

- **NN matching ATT** (`a_nn_matching_att`) — the matching
  estimator: every treated (md5 arm 1) user pairs with the closest
  control by PRE-period value (with replacement, deterministic
  tie-breaks), ATT = mean post-period difference over pairs.  The
  candidate match is one sorted-merge-style join on the scalar
  covariate — no propensity model needed for a 1-D match.
- **Jaccard threshold curve** (`d_jaccard_threshold_curve`) — dedup
  tuning: near-dup pair counts at tau in {0.5 .. 0.9} from ONE
  prefix-join pass at the loosest threshold (the jaccard is
  computed once and bucketed — the pruning stays lossless for
  every tau >= 0.5).
- **Price endings** (`q_price_endings`) — the cents-digit histogram
  of order totals with the chi-square against uniform cents: the
  psychological-pricing / fabricated-data screen cousin of the
  wave-18 Benford test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import prefix_jaccard_join
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_nn_matching_att
# ------------------------------------------------------------------ #


def a_nn_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN covariate matching (pre-value) with replacement; ATT on
    post-period user value.

    Execution: the match covariate is a SCALAR, so the nearest control
    is always the treated user's predecessor or successor in the sorted
    control-value order — two distributed running-max passes over the
    (distinct control value, min control id) rollup
    (:func:`~idn_area_etl_spark.operators.ranks.global_running_max`,
    struct-valued so the winning control id rides along), then one
    equi-join back on the chosen control id.  O(n log n); the previous
    ``t.join(c, F.lit(True))`` all-pairs product was quadratic in users
    (the r6 all-pairs gate flags that shape).  Results are bit-identical
    to the pairwise rank: |a-b| of doubles equals the directed
    difference against the sorted neighbor, and the (distance, cid)
    tie-break reduces to comparing the two candidate sides' per-value
    minimum control ids.  The oracle stays literally pairwise.
    """
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.to_date("ts") < cut,
                F.col("value").cast("decimal(20,6)"),
            ).otherwise(F.lit(0).cast("decimal(20,6)"))
        ).cast("double").alias("pre"),
        F.sum(
            F.when(
                F.to_date("ts") >= cut,
                F.col("value").cast("decimal(20,6)"),
            ).otherwise(F.lit(0).cast("decimal(20,6)"))
        ).cast("double").alias("post"),
    )
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    armed = per_user.select(arm.alias("g"), "user_id", "pre", "post")
    matched = matched_pairs_1d(armed)
    return matched.agg(
        F.count("*").cast("long").alias("n_matched"),
        F.round(
            (
                F.sum(
                    (F.col("tpost") - F.col("cpost")).cast(
                        "decimal(27,6)"
                    )
                )
                / F.count("*")
            ).cast("double"),
            6,
        ).alias("att"),
        F.round(
            (
                F.sum(
                    F.abs(F.col("tpre") - F.col("cpre")).cast(
                        "decimal(27,6)"
                    )
                )
                / F.count("*")
            ).cast("double"),
            6,
        ).alias("mean_match_distance"),
    )


def matched_pairs_1d(armed: DataFrame) -> DataFrame:
    """Sorted 1-D nearest-neighbor matching core: for every treated
    row (g = 1) in ``armed`` (g, user_id, pre, post), find the control
    (g = 0) minimizing (|pre difference|, control id), with
    replacement — via two struct-valued running-max passes over the
    distinct-control-value rollup, never a pair product.  Returns the
    matched frame (tid, tpre, tpost, cid, cpre, cpost).  Exported so
    tools/stress.py can tier the exact registered shape."""
    from idn_area_etl_spark.operators.ranks import global_running_max

    t = armed.filter(F.col("g") == 1).select(
        F.col("user_id").alias("tid"),
        F.col("pre").alias("tpre"),
        F.col("post").alias("tpost"),
    )
    c = armed.filter(F.col("g") == 0).select(
        F.col("user_id").alias("cid"),
        F.col("pre").alias("cpre"),
        F.col("post").alias("cpost"),
    )
    # one row per DISTINCT control pre-value, carrying the tie-break
    # winner at that value (min cid) — candidates at equal distance
    # resolve to per-value minimum ids, so nothing else can win
    cv = c.groupBy("cpre").agg(F.min("cid").alias("mcid"))
    cs_type = "struct<cx:double,mcid:bigint>"
    u = cv.select(
        F.col("cpre").alias("x"),
        F.lit(0).alias("is_t"),
        F.lit(None).cast("bigint").alias("tid"),
        F.lit(None).cast("double").alias("tpost"),
        F.struct(
            F.col("cpre").alias("cx"), F.col("mcid").alias("mcid")
        ).alias("cs"),
    ).unionByName(
        t.select(
            F.col("tpre").alias("x"),
            F.lit(1).alias("is_t"),
            "tid",
            "tpost",
            F.lit(None).cast(cs_type).alias("cs"),
        )
    )
    # predecessor: inclusive running max of the control struct over
    # (x asc, is_t asc) — controls sort before treatments at equal x,
    # so an exactly-matching control value is included
    with_p = global_running_max(
        u,
        [F.col("x"), F.col("is_t"), F.col("tid")],
        F.col("cs"),
        out="p",
    )
    # successor: same trick over x DESC with the struct key negated,
    # so "max" picks the smallest control value >= x
    with_s = global_running_max(
        with_p,
        [F.col("x").desc(), F.col("is_t"), F.col("tid")],
        F.struct(
            (-F.col("cs.cx")).alias("nx"), F.col("cs.mcid").alias("mcid")
        ),
        out="s",
    )
    cand = with_s.filter(F.col("is_t") == 1).select(
        "tid",
        F.col("x").alias("tpre"),
        "tpost",
        (F.col("x") - F.col("p.cx")).alias("d_p"),
        F.col("p.mcid").alias("p_cid"),
        ((-F.col("s.nx")) - F.col("x")).alias("d_s"),
        F.col("s.mcid").alias("s_cid"),
    )
    take_pred = F.col("p_cid").isNotNull() & (
        F.col("s_cid").isNull()
        | (F.col("d_p") < F.col("d_s"))
        | ((F.col("d_p") == F.col("d_s")) & (F.col("p_cid") < F.col("s_cid")))
    )
    chosen = cand.select(
        "tid",
        "tpre",
        "tpost",
        F.when(take_pred, F.col("p_cid")).otherwise(F.col("s_cid")).alias(
            "cid"
        ),
    ).filter(F.col("cid").isNotNull())
    return chosen.join(c.select("cid", "cpre", "cpost"), "cid")


A_MATCH_SQL = """
WITH per_user AS (
  SELECT user_id,
    CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
      THEN CAST(value AS DECIMAL(20,6))
      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) AS pre,
    CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
      THEN CAST(value AS DECIMAL(20,6))
      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) AS post
  FROM events GROUP BY user_id
),
armed AS (
  SELECT CAST(('0x' || substring(md5('arm:' ||
      CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g,
    user_id, pre, post
  FROM per_user
),
matched AS (
  SELECT t.user_id AS tid, t.pre AS tpre, t.post AS tpost,
    c.pre AS cpre, c.post AS cpost
  FROM (SELECT * FROM armed WHERE g = 1) t
  CROSS JOIN (SELECT * FROM armed WHERE g = 0) c
  QUALIFY ROW_NUMBER() OVER (PARTITION BY t.user_id
    ORDER BY ABS(t.pre - c.pre), c.user_id) = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
  ROUND(CAST(SUM(CAST(tpost - cpost AS DECIMAL(27,6))) AS DOUBLE)
        / COUNT(*), 6) AS att,
  ROUND(CAST(SUM(CAST(ABS(tpre - cpre) AS DECIMAL(27,6))) AS DOUBLE)
        / COUNT(*), 6) AS mean_match_distance
FROM matched
"""


# ------------------------------------------------------------------ #
# d_jaccard_threshold_curve
# ------------------------------------------------------------------ #


def d_jaccard_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup pair counts surviving tau in {.5,.6,.7,.8,.9} from
    one prefix-join pass at tau = 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_jaccard_join(docs, n=5, tau_num=1, tau_den=2)
    taus = spark.createDataFrame(
        [(5,), (6,), (7,), (8,), (9,)], "tau10 int"
    )
    return (
        pairs.crossJoin(F.broadcast(taus))
        .filter(
            F.col("n_inter") * 10 >= F.col("n_union") * F.col("tau10")
        )
        .groupBy("tau10")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.round(F.col("tau10") / 10.0, 1).alias("tau"),
            "n_pairs",
        )
        .orderBy("tau")
    )


D_CURVE_SQL = r"""
WITH tok AS (
  SELECT doc_id,
    list_distinct([array_to_string(ws[i:i+4], ' ')
                   for i in generate_series(1, len(ws) - 4)]) AS sh
  FROM (
    SELECT doc_id,
      list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                  x -> x <> '') AS ws
    FROM documents
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
pairs AS (
  SELECT i, na.n + nb.n - i AS u
  FROM inter
  JOIN sizes na ON d1 = na.doc_id
  JOIN sizes nb ON d2 = nb.doc_id
  WHERE i * 2 >= (na.n + nb.n - i)
),
taus AS (SELECT unnest([5, 6, 7, 8, 9]) AS tau10)
SELECT ROUND(tau10 / 10.0, 1) AS tau,
  CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs CROSS JOIN taus
WHERE i * 10 >= u * tau10
GROUP BY tau10 ORDER BY tau
"""


# ------------------------------------------------------------------ #
# q_price_endings
# ------------------------------------------------------------------ #


def q_price_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cents-digit histogram of order totals + chi2 vs uniform."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.pmod(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        F.lit(100),
    )
    # r9-opt (guide §2.4): the 100-row histogram feeds totals, chi²
    # and top-3; unstaged, the orders scan re-ran per consumer (2
    # duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    hist = _stage(
        orders.select(cents.alias("cents")).groupBy("cents").agg(
            F.count("*").alias("n")
        )
    )
    tot = hist.agg(
        F.sum("n").alias("ntot"), F.count("*").alias("k")
    )
    chi = (
        hist.crossJoin(F.broadcast(tot))
        .select(
            (
                (
                    F.col("n").cast("double")
                    - F.col("ntot").cast("double") / 100.0
                )
                * (
                    F.col("n").cast("double")
                    - F.col("ntot").cast("double") / 100.0
                )
                / (F.col("ntot").cast("double") / 100.0)
            ).cast("decimal(27,10)").alias("term")
        )
        .agg(F.sum("term").cast("double").alias("chi2_partial"))
    )
    top = (
        hist.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("n"), "cents")),
        )
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            F.col("cents").cast("int").alias("cents"),
            "n",
        )
    )
    return (
        top.crossJoin(F.broadcast(chi))
        .select("rnk", "cents", "n", F.round("chi2_partial", 6).alias("chi2"))
        .orderBy("rnk")
    )


Q_ENDINGS_SQL = """
WITH hist AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      % 100 AS cents,
    COUNT(*) AS n
  FROM orders GROUP BY 1
),
tot AS (SELECT SUM(n) AS ntot, COUNT(*) AS k FROM hist),
chi AS (
  SELECT CAST(SUM(CAST(
      (CAST(n AS DOUBLE) - CAST(ntot AS DOUBLE) / 100.0)
      * (CAST(n AS DOUBLE) - CAST(ntot AS DOUBLE) / 100.0)
      / (CAST(ntot AS DOUBLE) / 100.0) AS DECIMAL(27,10)))
    AS DOUBLE) AS chi2_partial
  FROM hist CROSS JOIN tot
),
top AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, cents) AS rnk,
    cents, n
  FROM hist
)
SELECT CAST(rnk AS INT) AS rnk, CAST(cents AS INT) AS cents,
  CAST(n AS BIGINT) AS n, ROUND(chi2_partial, 6) AS chi2
FROM top CROSS JOIN chi
WHERE rnk <= 3 ORDER BY rnk
"""


SPECS = [
    QuerySpec(
        "a_nn_matching_att",
        a_nn_matching_att,
        A_MATCH_SQL,
        doc="1-NN pre-value matching with replacement; ATT on post",
        tags=("experimentation", "stats"),
    ),
    QuerySpec(
        "d_jaccard_threshold_curve",
        d_jaccard_threshold_curve,
        D_CURVE_SQL,
        doc="near-dup pair counts across tau 0.5..0.9 from one pass",
        tags=("dedup",),
    ),
    QuerySpec(
        "q_price_endings",
        q_price_endings,
        Q_ENDINGS_SQL,
        doc="cents-digit histogram top-3 + chi2 vs uniform",
        tags=("finance", "audit"),
    ),
]
