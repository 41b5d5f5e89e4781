"""Ninety-first wave: economic order quantity, Ljung-Box, and test
n-gram coverage.

Reference parity note: inventory optimization + autocorrelation
portmanteau + generalization-gap proxies; every query carries an
exact DuckDB oracle.

- **EOQ** (`q_eoq`) — the square-root law of inventory: economic
  order quantity sqrt(2 D S / H) per focus part (annualized demand
  D from shipped quantities over the observed span, ordering cost
  S = 100 and holding cost H = 2 as literals).  The canonical
  operations-research formula as one aggregation + a row-local
  sqrt.
- **Ljung-Box** (`a_ljung_box`) — the portmanteau whiteness test:
  Q = n(n+2) sum_{k=1..5} r_k^2/(n-k) over the first five
  autocorrelations of daily revenue (each r_k an exact-decimal
  lag-k moment), vs the chi2(5, .05) literal 11.0705.
- **Test n-gram coverage** (`d_test_ngram_coverage`) — the
  generalization-gap proxy: the share of the hash test split's
  distinct word bigrams that appear in the train split, per
  language.  High coverage = the test set barely probes novel
  composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import token_shingles_expr
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# q_eoq
# ------------------------------------------------------------------ #


def q_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EOQ = sqrt(2 D S / H) per focus part (< 20), S=100, H=2."""
    li = load_table(spark, sf_dir, "lineitem")
    span = li.agg(
        (
            F.datediff(
                F.max(F.to_date("l_shipdate")),
                F.min(F.to_date("l_shipdate")),
            )
            + 1
        ).alias("days")
    )
    demand = (
        li.filter(F.col("l_partkey") < 20)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(27,2)")).alias("q")
        )
    )
    annual = demand.crossJoin(F.broadcast(span)).select(
        F.col("l_partkey").alias("part"),
        (
            F.col("q").cast("double") * 365.0 / F.col("days")
        ).alias("annual_demand"),
    )
    eoq = F.sqrt(2.0 * F.col("annual_demand") * 100.0 / 2.0)
    return annual.select(
        "part",
        F.round("annual_demand", 6).alias("annual_demand"),
        F.round(eoq, 6).alias("eoq"),
    ).orderBy("part")


Q_EOQ_SQL = """
WITH span AS (
  SELECT datediff('day', MIN(CAST(l_shipdate AS DATE)),
                  MAX(CAST(l_shipdate AS DATE))) + 1 AS days
  FROM lineitem
),
demand AS (
  SELECT l_partkey AS part,
    SUM(CAST(l_quantity AS DECIMAL(27,2))) AS q
  FROM lineitem WHERE l_partkey < 20 GROUP BY l_partkey
)
SELECT part,
  ROUND(CAST(q AS DOUBLE) * 365.0 / days, 6) AS annual_demand,
  ROUND(sqrt(2.0 * (CAST(q AS DOUBLE) * 365.0 / days) * 100.0 / 2.0),
        6) AS eoq
FROM demand CROSS JOIN span
ORDER BY part
"""


# ------------------------------------------------------------------ #
# a_ljung_box
# ------------------------------------------------------------------ #


def a_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over the first 5 ACF lags of daily revenue."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): daily feeds the mean probe and the
    # centered/lagged series; unstaged, the events rollup re-ran per
    # consumer (2 duplicate scans).  Day-cardinality staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    daily = _stage(
        ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d")
        ).agg(
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("y")
        )
    )
    mu_df = daily.agg(
        F.count("*").alias("n"),
        (
            F.sum(F.col("y").cast("decimal(27,6)")).cast("double")
            / F.count("*")
        ).alias("mu"),
    )
    centered = daily.crossJoin(F.broadcast(mu_df)).select(
        "d", (F.col("y") - F.col("mu")).alias("e"), "n"
    )
    w = Window.orderBy("d")
    lagged = centered.select(
        "e",
        "n",
        *[
            F.lag("e", k).over(w).alias(f"e{k}") for k in range(1, 6)
        ],
    )
    agg = lagged.agg(
        F.max("n").alias("n"),
        F.sum((F.col("e") * F.col("e")).cast("decimal(38,8)"))
        .cast("double")
        .alias("c0"),
        *[
            F.sum(
                F.when(
                    F.col(f"e{k}").isNotNull(),
                    (F.col("e") * F.col(f"e{k}")).cast("decimal(38,8)"),
                )
            )
            .cast("double")
            .alias(f"c{k}")
            for k in range(1, 6)
        ],
    )
    n = F.col("n").cast("double")
    q = None
    for k in range(1, 6):
        rk = F.col(f"c{k}") / F.col("c0")
        term = rk * rk / (n - k)
        q = term if q is None else q + term
    qstat = n * (n + 2.0) * q
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        *[
            F.round(F.col(f"c{k}") / F.col("c0"), 6).alias(f"r{k}")
            for k in range(1, 6)
        ],
        F.round(qstat, 6).alias("lb_q"),
        (qstat > 11.0705).alias("reject_whiteness"),
    )


A_LB_SQL = """
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
mu AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS mu
  FROM daily
),
centered AS (
  SELECT d, y - mu AS e, n FROM daily CROSS JOIN mu
),
lagged AS (
  SELECT e, n,
    LAG(e, 1) OVER (ORDER BY d) AS e1,
    LAG(e, 2) OVER (ORDER BY d) AS e2,
    LAG(e, 3) OVER (ORDER BY d) AS e3,
    LAG(e, 4) OVER (ORDER BY d) AS e4,
    LAG(e, 5) OVER (ORDER BY d) AS e5
  FROM centered
),
agg AS (
  SELECT MAX(n) AS n,
    CAST(SUM(CAST(e * e AS DECIMAL(38,8))) AS DOUBLE) AS c0,
    CAST(SUM(CASE WHEN e1 IS NOT NULL
        THEN CAST(e * e1 AS DECIMAL(38,8)) END) AS DOUBLE) AS c1,
    CAST(SUM(CASE WHEN e2 IS NOT NULL
        THEN CAST(e * e2 AS DECIMAL(38,8)) END) AS DOUBLE) AS c2,
    CAST(SUM(CASE WHEN e3 IS NOT NULL
        THEN CAST(e * e3 AS DECIMAL(38,8)) END) AS DOUBLE) AS c3,
    CAST(SUM(CASE WHEN e4 IS NOT NULL
        THEN CAST(e * e4 AS DECIMAL(38,8)) END) AS DOUBLE) AS c4,
    CAST(SUM(CASE WHEN e5 IS NOT NULL
        THEN CAST(e * e5 AS DECIMAL(38,8)) END) AS DOUBLE) AS c5
  FROM lagged
)
SELECT CAST(n AS BIGINT) AS n_days,
  ROUND(c1 / c0, 6) AS r1, ROUND(c2 / c0, 6) AS r2,
  ROUND(c3 / c0, 6) AS r3, ROUND(c4 / c0, 6) AS r4,
  ROUND(c5 / c0, 6) AS r5,
  ROUND(CAST(n AS DOUBLE) * (n + 2.0)
    * ((c1 / c0) * (c1 / c0) / (n - 1)
     + (c2 / c0) * (c2 / c0) / (n - 2)
     + (c3 / c0) * (c3 / c0) / (n - 3)
     + (c4 / c0) * (c4 / c0) / (n - 4)
     + (c5 / c0) * (c5 / c0) / (n - 5)), 6) AS lb_q,
  (CAST(n AS DOUBLE) * (n + 2.0)
    * ((c1 / c0) * (c1 / c0) / (n - 1)
     + (c2 / c0) * (c2 / c0) / (n - 2)
     + (c3 / c0) * (c3 / c0) / (n - 3)
     + (c4 / c0) * (c4 / c0) / (n - 4)
     + (c5 / c0) * (c5 / c0) / (n - 5)) > 11.0705)
    AS reject_whiteness
FROM agg
"""


# ------------------------------------------------------------------ #
# d_test_ngram_coverage
# ------------------------------------------------------------------ #


def d_test_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of the test split's distinct bigrams seen in train, per
    language."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**52))
    )
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    base = docs.select(
        "lang", "text", (u < 0.1).alias("is_test"), toks.alias("ws")
    ).filter(F.size("ws") >= 2)
    # shared regex-scan shingler; >=2-token filter keeps its
    # whole-text fallback from ever firing
    grams = base.select(
        "lang",
        "is_test",
        F.explode(token_shingles_expr("text", 2)).alias("g"),
    )
    # r9-opt (guide §2.3/§2.4): ONE (lang, gram) rollup carrying
    # test/train membership flags replaces the two distinct passes +
    # semi-join + left join — the corpus is scanned and shingled once
    # and a single gram-keyed exchange remains.  Row-for-row equal to
    # the old shape: a distinct test gram is a rollup row with
    # in_test, a covered one additionally has in_train, and languages
    # with zero test grams (absent from the old t side) are filtered
    # out; coalesce(n_covered, 0) = a sum over zero matching rows.
    gf = grams.groupBy("lang", "g").agg(
        F.max(F.col("is_test").cast("int")).alias("in_test"),
        F.max((~F.col("is_test")).cast("int")).alias("in_train"),
    )
    return (
        gf.groupBy("lang")
        .agg(
            F.sum("in_test").alias("n_test_grams"),
            F.sum(F.col("in_test") * F.col("in_train")).alias("n_covered"),
        )
        .filter(F.col("n_test_grams") > 0)
        .select(
            "lang",
            "n_test_grams",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_test_grams"),
                6,
            ).alias("coverage"),
        )
        .orderBy("lang")
    )


D_COVERAGE_SQL = r"""
WITH base AS (
  SELECT lang,
    CAST(('0x' || substring(md5('split:' ||
        CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT)
      / 4503599627370496.0 < 0.1 AS is_test,
    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x <> '') AS ws
  FROM documents
),
grams AS (
  SELECT lang, is_test,
    unnest(list_distinct([array_to_string(ws[i:i+1], ' ')
      for i in generate_series(1, len(ws) - 1)])) AS g
  FROM base WHERE len(ws) >= 2
),
test_g AS (
  SELECT DISTINCT lang, g FROM grams WHERE is_test
),
train_g AS (
  SELECT DISTINCT lang, g FROM grams WHERE NOT is_test
),
covered AS (
  SELECT lang, g FROM test_g SEMI JOIN train_g USING (lang, g)
),
t AS (SELECT lang, COUNT(*) AS n_test_grams FROM test_g GROUP BY lang),
c AS (SELECT lang, COUNT(*) AS n_covered FROM covered GROUP BY lang)
SELECT t.lang, CAST(n_test_grams AS BIGINT) AS n_test_grams,
  CAST(COALESCE(n_covered, 0) AS BIGINT) AS n_covered,
  ROUND(CAST(COALESCE(n_covered, 0) AS DOUBLE) / n_test_grams, 6)
    AS coverage
FROM t LEFT JOIN c ON t.lang = c.lang
ORDER BY t.lang
"""


SPECS = [
    QuerySpec(
        "q_eoq",
        q_eoq,
        Q_EOQ_SQL,
        doc="economic order quantity sqrt(2DS/H) per focus part",
        tags=("inventory", "bi"),
    ),
    QuerySpec(
        "a_ljung_box",
        a_ljung_box,
        A_LB_SQL,
        doc="Ljung-Box portmanteau over first 5 ACF lags",
        tags=("timeseries", "stats"),
    ),
    QuerySpec(
        "d_test_ngram_coverage",
        d_test_ngram_coverage,
        D_COVERAGE_SQL,
        doc="share of test bigrams seen in train, per language",
        tags=("text", "ml-eval"),
    ),
]
