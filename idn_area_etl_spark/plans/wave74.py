"""Seventy-fourth wave: frequency capping, seasonality strength, and
leave-one-out target encoding.

Reference parity note: soft dedup + seasonal diagnostics + leakage-
free feature engineering; every query carries an exact DuckDB oracle.

- **Frequency cap** (`s_frequency_cap`) — the C4-style soft dedup:
  instead of keep-one, each canonical text group keeps at most 2
  copies (lowest doc_ids); per-language kept/removed counts.  The
  cap is one row_number over the canonical-hash partition.
- **DOW strength** (`a_dow_strength`) — seasonality strength of
  daily revenue: R^2 of the day-of-week means model
  (1 - SSE_within / SST over the 30 daily totals), the
  STL-strength-style scalar behind "is weekly seasonality real".
- **LOO target encoding** (`s_target_encoding_loo`) — the leakage-
  free categorical feature: each customer's nation encoded as the
  nation mean balance EXCLUDING the customer itself
  ((sum - x)/(n - 1) from one broadcast rollup).  First 20
  customers shown; the no-self-leakage identity is pinned in
  tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# s_frequency_cap
# ------------------------------------------------------------------ #


def s_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each canonical text group at 2 copies; per-language
    kept/removed counts."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    ranked = docs.select(
        "doc_id", "lang", F.md5(canon).alias("ck")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("ck").orderBy("doc_id")
        ),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("rn") <= 2).cast("long")).alias("n_kept"),
            F.sum((F.col("rn") > 2).cast("long")).alias("n_removed"),
        )
        .orderBy("lang")
    )


S_FREQCAP_SQL = r"""
WITH ranked AS (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (PARTITION BY
      md5(trim(regexp_replace(regexp_replace(lower(text),
          '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN rn <= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(SUM(CASE WHEN rn > 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed
FROM ranked GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------------ #
# a_dow_strength
# ------------------------------------------------------------------ #


def a_dow_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R^2 of the day-of-week means model over daily revenue."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("double")
        .alias("y")
    ).select("day", F.dayofweek("day").alias("dow"), "y")
    # r9-opt (guide §2.4): per_dow feeds the grand totals and the
    # within-group pass; unstaged, the events rollup re-ran per
    # consumer (2 duplicate scans).  7-row staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    per_dow = _stage(
        daily.groupBy("dow").agg(
            F.count("*").alias("n"),
            F.sum(F.col("y").cast("decimal(27,6)")).alias("s"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,8)")).alias(
                "ss"
            ),
        )
    )
    tot = per_dow.agg(
        F.sum("n").alias("N"),
        F.sum("s").cast("double").alias("S"),
        F.sum("ss").cast("double").alias("SS"),
    )
    within = per_dow.select(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double")
            * (F.col("s").cast("double") / F.col("n"))
        ).cast("decimal(38,8)").alias("w")
    ).agg(F.sum("w").cast("double").alias("ssw"))
    return (
        tot.crossJoin(F.broadcast(within))
        .select(
            F.col("N").cast("long").alias("n_days"),
            F.round(
                1.0
                - F.col("ssw")
                / (F.col("SS") - F.col("S") * F.col("S") / F.col("N")),
                6,
            ).alias("dow_r2"),
        )
    )


A_DOW_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
per_dow AS (
  SELECT dayofweek(day) AS dow, COUNT(*) AS n,
    SUM(CAST(y AS DECIMAL(27,6))) AS s,
    SUM(CAST(y * y AS DECIMAL(38,8))) AS ss
  FROM daily GROUP BY 1
),
tot AS (
  SELECT SUM(n) AS N, CAST(SUM(s) AS DOUBLE) AS S,
    CAST(SUM(ss) AS DOUBLE) AS SS
  FROM per_dow
),
within AS (
  SELECT CAST(SUM(CAST(CAST(ss AS DOUBLE)
      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)
      AS DECIMAL(38,8))) AS DOUBLE) AS ssw
  FROM per_dow
)
SELECT CAST(N AS BIGINT) AS n_days,
  ROUND(1.0 - ssw / (SS - S * S / N), 6) AS dow_r2
FROM tot CROSS JOIN within
"""


# ------------------------------------------------------------------ #
# s_target_encoding_loo
# ------------------------------------------------------------------ #


def s_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out nation-mean-balance encoding for the first 20
    customers."""
    cust = load_table(spark, sf_dir, "customer")
    rollup = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(27,6)")).alias("s"),
    )
    return (
        cust.filter(F.col("c_custkey") <= 20)
        .join(F.broadcast(rollup), "c_nationkey")
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal").cast("double"), 2).alias(
                "own_bal"
            ),
            F.round(
                (
                    F.col("s").cast("double")
                    - F.col("c_acctbal").cast("double")
                )
                / (F.col("n") - 1),
                6,
            ).alias("loo_encoding"),
        )
        .orderBy("c_custkey")
    )


S_LOO_SQL = """
WITH rollup AS (
  SELECT c_nationkey, COUNT(*) AS n,
    SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS s
  FROM customer GROUP BY c_nationkey
)
SELECT c_custkey, c.c_nationkey,
  ROUND(CAST(c_acctbal AS DOUBLE), 2) AS own_bal,
  ROUND((CAST(s AS DOUBLE) - CAST(c_acctbal AS DOUBLE)) / (n - 1), 6)
    AS loo_encoding
FROM customer c JOIN rollup r ON c.c_nationkey = r.c_nationkey
WHERE c_custkey <= 20
ORDER BY c_custkey
"""


SPECS = [
    QuerySpec(
        "s_frequency_cap",
        s_frequency_cap,
        S_FREQCAP_SQL,
        doc="C4-style frequency cap: keep <= 2 copies per canonical group",
        tags=("dedup", "dataset-prep"),
    ),
    QuerySpec(
        "a_dow_strength",
        a_dow_strength,
        A_DOW_SQL,
        doc="R^2 of the day-of-week means model over daily revenue",
        tags=("timeseries", "stats"),
    ),
    QuerySpec(
        "s_target_encoding_loo",
        s_target_encoding_loo,
        S_LOO_SQL,
        doc="leave-one-out nation target encoding (leakage-free)",
        tags=("dataset-prep", "ml-eval"),
    ),
]
