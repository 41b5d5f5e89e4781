"""Twenty-seventh wave: RFM segmentation, cohort LTV curves,
inter-purchase gap analysis, equi-depth histograms, and a Zipf
rank-frequency fit.

Reference parity note: all engine-native analytics (the reference has
no aggregation surface, SURVEY.md §2.4); every query carries an exact
DuckDB oracle.

Scale stance shared by the wave: **no global ntile sorts**.  Both
RFM quintiles and the equi-depth histogram derive bucket thresholds
from exact percentiles computed in ONE aggregation (a scalar row,
broadcast to the fact rows), then bucket per-row with plain
comparisons — the two-pass threshold+bucket pattern that survives
100 TB, where a single-partition ntile window would not.  Percentile
values are rounded at 6 dp on both engines before thresholding
(the q_mad_outliers precedent — interpolation formulas agree).

- **RFM segments** (`q_rfm_segments`) — recency / frequency /
  monetary quintile scores per customer, quintiles from exact
  percentiles over the customer-level rollup; segments reported with
  customer counts and exact total spend (an
  exact-decimal sum — a rounded mean can land on a half-ulp rounding
  boundary where engines disagree).
- **Cohort LTV** (`q_cohort_ltv`) — cumulative revenue per first-
  order-month cohort by cohort age in months; the cumulative window
  runs over the tiny (cohort × age) rollup.  Cohort age is integer
  month arithmetic (y·12+m), identical on both engines — never
  `months_between`, whose fractional semantics differ.
- **Inter-purchase gaps** (`q_interpurchase_gaps`) — distribution of
  days between consecutive orders per customer: one lag over the
  customer-keyed window, then a 4-bucket CASE rollup with exact
  decimal mean gaps.
- **Equi-depth histogram** (`q_equidepth_histogram`) — 10
  equal-frequency buckets of order totalprice via 9 exact decile
  thresholds; per-bucket count / min / max / decimal sum.
- **Zipf slope** (`d_zipf_slope`) — OLS fit of ln(freq) on ln(rank)
  over the top-100 corpus tokens: the rank window runs on 100 rows
  (post-limit), sums go through decimal casts, the slope/intercept
  are single double expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.text import tokens_expr
from idn_area_etl_spark.operators.ranks import discrete_quantiles
from idn_area_etl_spark.plans.registry import QuerySpec, discrete_thresholds_sql
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# q_rfm_segments
# ------------------------------------------------------------------ #

RFM_QS = (0.2, 0.4, 0.6, 0.8)
RFM_Q_FRACS = [(1, 5), (2, 5), (3, 5), (4, 5)]


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation over the customer base."""
    o = load_table(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.to_date("o_orderdate")).alias("ref_date"))
    # r8-opt: per_cust is staged — it feeds the three quantile
    # computations AND the scoring pass; unstaged, each consumer
    # re-ran the orders scan + per-customer rollup (4 scans in the
    # captured plan).
    per_cust = _stage(
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.first("ref_date"), F.max(F.to_date("o_orderdate"))
            ).alias("recency"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias(
                "monetary_dec"
            ),
        )
        .withColumn("monetary", F.col("monetary_dec").cast("double"))
    )
    # discrete quintile thresholds (stored elements at rank ceil(q*n))
    # — never cross-engine float-interpolated percentiles (r7, the
    # a_quantile_sketch red-row class)
    thr = (
        discrete_quantiles(per_cust, F.col("recency"), RFM_Q_FRACS, "r")
        .crossJoin(
            discrete_quantiles(per_cust, F.col("freq"), RFM_Q_FRACS, "f")
        )
        .crossJoin(
            discrete_quantiles(
                per_cust, F.col("monetary"), RFM_Q_FRACS, "m"
            )
        )
    )
    scored = per_cust.crossJoin(F.broadcast(thr))
    r_exceed = sum(
        (F.col("recency") > F.col(f"r{i}")).cast("int")
        for i in range(len(RFM_QS))
    )
    f_exceed = sum(
        (F.col("freq") > F.col(f"f{i}")).cast("int")
        for i in range(len(RFM_QS))
    )
    m_exceed = sum(
        (F.col("monetary") > F.col(f"m{i}")).cast("int")
        for i in range(len(RFM_QS))
    )
    seg = F.concat_ws(
        "-",
        (5 - r_exceed).cast("string"),
        (1 + f_exceed).cast("string"),
        (1 + m_exceed).cast("string"),
    )
    return (
        scored.select(seg.alias("segment"), "monetary_dec")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary_dec").cast("double").alias("sum_monetary"),
        )
        .orderBy("segment")
    )


def _rfm_sql() -> str:
    r_thr = discrete_thresholds_sql("per_cust", "recency", RFM_Q_FRACS, "r")
    f_thr = discrete_thresholds_sql("per_cust", "freq", RFM_Q_FRACS, "f")
    m_thr = discrete_thresholds_sql("per_cust", "monetary", RFM_Q_FRACS, "m")
    r_ex = " + ".join(
        f"CASE WHEN recency > r{i} THEN 1 ELSE 0 END"
        for i in range(len(RFM_QS))
    )
    f_ex = " + ".join(
        f"CASE WHEN freq > f{i} THEN 1 ELSE 0 END"
        for i in range(len(RFM_QS))
    )
    m_ex = " + ".join(
        f"CASE WHEN monetary > m{i} THEN 1 ELSE 0 END"
        for i in range(len(RFM_QS))
    )
    return f"""
WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
per_cust AS (
  SELECT o_custkey,
    date_diff('day', MAX(CAST(o_orderdate AS DATE)),
              (SELECT ref_date FROM ref)) AS recency,
    COUNT(*) AS freq,
    SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS monetary_dec,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
thr AS (SELECT * FROM {r_thr} CROSS JOIN {f_thr} CROSS JOIN {m_thr}),
scored AS (
  SELECT
    CAST(5 - ({r_ex}) AS VARCHAR) || '-' ||
    CAST(1 + ({f_ex}) AS VARCHAR) || '-' ||
    CAST(1 + ({m_ex}) AS VARCHAR) AS segment,
    monetary_dec
  FROM per_cust CROSS JOIN thr
)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(monetary_dec) AS DOUBLE) AS sum_monetary
FROM scored GROUP BY segment ORDER BY segment
"""


# ------------------------------------------------------------------ #
# q_cohort_ltv
# ------------------------------------------------------------------ #


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per first-order-month cohort by cohort age
    (months), over the tiny cohort × age rollup."""
    o = load_table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.trunc(F.min(F.to_date("o_orderdate")), "month").alias("cohort")
    )
    month_num = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    enriched = o.join(first, "o_custkey").select(
        "cohort",
        (
            month_num(F.trunc(F.to_date("o_orderdate"), "month"))
            - month_num(F.col("cohort"))
        ).alias("age_months"),
        F.col("o_totalprice").cast("decimal(24,6)").alias("rev"),
    )
    rolled = enriched.groupBy("cohort", "age_months").agg(
        F.count("*").alias("n_orders"), F.sum("rev").alias("rev")
    )
    w = Window.partitionBy("cohort").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return rolled.select(
        "cohort",
        "age_months",
        "n_orders",
        F.round(F.sum("rev").over(w).cast("double"), 4).alias("cum_ltv"),
    ).orderBy("cohort", "age_months")


Q_COHORT_LTV_SQL = """
WITH first AS (
  SELECT o_custkey,
    date_trunc('month', MIN(CAST(o_orderdate AS DATE))) AS cohort
  FROM orders GROUP BY o_custkey
),
enriched AS (
  SELECT cohort,
    (year(date_trunc('month', CAST(o_orderdate AS DATE))) * 12
     + month(date_trunc('month', CAST(o_orderdate AS DATE))))
    - (year(cohort) * 12 + month(cohort)) AS age_months,
    CAST(o_totalprice AS DECIMAL(24,6)) AS rev
  FROM orders JOIN first USING (o_custkey)
),
rolled AS (
  SELECT cohort, age_months, COUNT(*) AS n_orders, SUM(rev) AS rev
  FROM enriched GROUP BY cohort, age_months
)
SELECT cohort, CAST(age_months AS INT) AS age_months,
  CAST(n_orders AS BIGINT) AS n_orders,
  ROUND(CAST(SUM(rev) OVER (
    PARTITION BY cohort ORDER BY age_months
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE), 4) AS cum_ltv
FROM rolled ORDER BY cohort, age_months
"""


# ------------------------------------------------------------------ #
# q_interpurchase_gaps
# ------------------------------------------------------------------ #

GAP_BUCKETS = [(7, "a_0_7"), (30, "b_8_30"), (90, "c_31_90")]
GAP_LAST = "d_over_90"


def q_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer, bucketed."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    gaps = o.select(
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    bucket = F.lit(GAP_LAST)
    for hi, name in reversed(GAP_BUCKETS):
        bucket = F.when(F.col("gap") <= hi, F.lit(name)).otherwise(bucket)
    return (
        gaps.select(bucket.alias("bucket"), "gap")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(
                F.sum(F.col("gap").cast("decimal(20,0)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean_gap_days"),
        )
        .orderBy("bucket")
    )


def _gaps_sql() -> str:
    case = "CASE "
    for hi, name in GAP_BUCKETS:
        case += f"WHEN gap <= {hi} THEN '{name}' "
    case += f"ELSE '{GAP_LAST}' END"
    return f"""
WITH gaps AS (
  SELECT date_diff('day',
    LAG(CAST(o_orderdate AS DATE)) OVER (
      PARTITION BY o_custkey
      ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
    CAST(o_orderdate AS DATE)) AS gap
  FROM orders
)
SELECT {case} AS bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
  ROUND(CAST(SUM(CAST(gap AS DECIMAL(20,0))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS mean_gap_days
FROM gaps WHERE gap IS NOT NULL
GROUP BY 1 ORDER BY bucket
"""


# ------------------------------------------------------------------ #
# q_equidepth_histogram
# ------------------------------------------------------------------ #

EQUIDEPTH_BUCKETS = 10


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 equal-frequency buckets of order totalprice from 9 exact
    decile thresholds (one agg pass; no global sort)."""
    o = load_table(spark, sf_dir, "orders")
    qs = [(i, EQUIDEPTH_BUCKETS) for i in range(1, EQUIDEPTH_BUCKETS)]
    # discrete decile thresholds (r7: no interpolated percentiles)
    thr = discrete_quantiles(o, F.col("o_totalprice"), qs)
    bucket = 1 + sum(
        (F.col("o_totalprice") > F.col(f"t{i}")).cast("int")
        for i in range(len(qs))
    )
    return (
        o.crossJoin(F.broadcast(thr))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
            F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("bucket")
    )


def _equidepth_sql() -> str:
    qs = [(i, EQUIDEPTH_BUCKETS) for i in range(1, EQUIDEPTH_BUCKETS)]
    thr = discrete_thresholds_sql("orders", "o_totalprice", qs)
    ex = " + ".join(
        f"CASE WHEN o_totalprice > t{i} THEN 1 ELSE 0 END"
        for i in range(len(qs))
    )
    return f"""
WITH thr AS (SELECT * FROM {thr})
SELECT 1 + ({ex}) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(MIN(o_totalprice), 4) AS lo,
  ROUND(MAX(o_totalprice), 4) AS hi,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total
FROM orders CROSS JOIN thr
GROUP BY 1 ORDER BY bucket
"""


# ------------------------------------------------------------------ #
# d_zipf_slope
# ------------------------------------------------------------------ #

ZIPF_TOP_N = 100


def d_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope of ln(freq) on ln(rank) over the top-100 tokens —
    the corpus's Zipf exponent (≈ −1 for natural language)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(ZIPF_TOP_N)
    )
    ranked = freq.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), "w")),
    ).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(24,12)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(24,12)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(24,12)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(24,12)"))
        .cast("double")
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / nd
    return sums.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("intercept"),
    )


D_ZIPF_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
),
freq AS (
  SELECT w, COUNT(*) AS freq FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY w ORDER BY freq DESC, w LIMIT {ZIPF_TOP_N}
),
ranked AS (
  SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS DOUBLE))
           AS x,
    LN(CAST(freq AS DOUBLE)) AS y
  FROM freq
),
sums AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(24,12))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(24,12))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * y AS DECIMAL(24,12))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x * x AS DECIMAL(24,12))) AS DOUBLE) AS sxx
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_terms,
  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
  ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
        / CAST(n AS DOUBLE), 6) AS intercept
FROM sums
"""


SPECS = [
    QuerySpec(
        "q_rfm_segments",
        q_rfm_segments,
        _rfm_sql(),
        doc="RFM quintile segmentation via percentile thresholds",
        tags=("analytics", "segmentation"),
    ),
    QuerySpec(
        "q_cohort_ltv",
        q_cohort_ltv,
        Q_COHORT_LTV_SQL,
        doc="cumulative revenue per signup cohort by age in months",
        tags=("analytics", "cohort"),
    ),
    QuerySpec(
        "q_interpurchase_gaps",
        q_interpurchase_gaps,
        _gaps_sql(),
        doc="days between consecutive orders, bucketed distribution",
        tags=("analytics", "window"),
    ),
    QuerySpec(
        "q_equidepth_histogram",
        q_equidepth_histogram,
        _equidepth_sql(),
        doc="10-bucket equal-frequency histogram from decile thresholds",
        tags=("analytics", "histogram"),
    ),
    QuerySpec(
        "d_zipf_slope",
        d_zipf_slope,
        D_ZIPF_SQL,
        doc="Zipf rank-frequency OLS slope over top-100 tokens",
        tags=("text", "stats"),
    ),
]
