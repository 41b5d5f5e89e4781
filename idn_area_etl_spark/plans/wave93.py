"""Ninety-third wave: second-order conversion and Mood's median
test.

Reference parity note: lifecycle KPIs + the last member of the
nonparametric family; every query carries an exact DuckDB oracle.

- **Second-order conversion** (`q_second_order_conversion`) — the
  repeat-buyer KPI: of customers whose first order lands in each
  half-year vintage, the share who place a second order within 90
  days, plus the median gap (percentile_disc) among converters.
- **Mood's median test** (`a_moods_median`) — the bluntest robust
  two-sample test: the 2x2 chi-square of above-vs-below the GLOBAL
  median user value across md5 arms (continuity-corrected).  The
  sanity check that agrees with Mann-Whitney when distributions
  only shift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# q_second_order_conversion
# ------------------------------------------------------------------ #


def q_second_order_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Second-order-within-90-days rate per acquisition half-year +
    the median converter gap."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    # r9-opt (guide §2.4): ranked feeds the first- and second-order
    # legs; unstaged, the orders scan + per-customer window re-ran
    # per consumer (2 duplicate scans).
    ranked = _stage(
        orders.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 2)
    )
    first = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("d").alias("d1")
    )
    second = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("d").alias("d2")
    )
    per_cust = first.join(second, "o_custkey", "left").select(
        (
            (F.year("d1") - 1995) * 2
            + (F.month("d1") > 6).cast("int")
        ).alias("vintage"),
        F.datediff("d2", "d1").alias("gap"),
    )
    return (
        per_cust.groupBy("vintage")
        .agg(
            F.count("*").alias("n_new_buyers"),
            F.sum(
                (
                    F.col("gap").isNotNull() & (F.col("gap") <= 90)
                ).cast("long")
            ).alias("n_converted"),
            F.round(
                F.sum(
                    (
                        F.col("gap").isNotNull() & (F.col("gap") <= 90)
                    ).cast("long")
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("conversion_90d"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY "
                "CASE WHEN gap IS NOT NULL AND gap <= 90 "
                "THEN gap END)"
            ).cast("long").alias("median_gap_days"),
        )
        .orderBy("vintage")
    )


Q_SECOND_SQL = """
WITH ranked AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
      ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
  QUALIFY rn <= 2
),
first AS (SELECT o_custkey, d AS d1 FROM ranked WHERE rn = 1),
second AS (SELECT o_custkey, d AS d2 FROM ranked WHERE rn = 2),
per_cust AS (
  SELECT (year(d1) - 1995) * 2
      + CASE WHEN month(d1) > 6 THEN 1 ELSE 0 END AS vintage,
    datediff('day', d1, d2) AS gap
  FROM first LEFT JOIN second USING (o_custkey)
)
SELECT vintage, CAST(COUNT(*) AS BIGINT) AS n_new_buyers,
  CAST(SUM(CASE WHEN gap IS NOT NULL AND gap <= 90
       THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
  ROUND(CAST(SUM(CASE WHEN gap IS NOT NULL AND gap <= 90
       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS conversion_90d,
  CAST(quantile_disc(CASE WHEN gap IS NOT NULL AND gap <= 90
       THEN gap END, 0.5) AS BIGINT) AS median_gap_days
FROM per_cust GROUP BY vintage ORDER BY vintage
"""


# ------------------------------------------------------------------ #
# a_moods_median
# ------------------------------------------------------------------ #


def a_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median 2x2 chi-square (continuity-corrected) of user
    value above/below the global median across md5 arms."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): per_user feeds the median probe and the
    # 2x2 cell count; unstaged, the events rollup re-ran per consumer
    # (2 duplicate scans).
    per_user = _stage(
        ev.groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("tv")
        )
    )
    med = per_user.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY tv)"
        ).alias("med")
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
    cells = (
        per_user.crossJoin(F.broadcast(med))
        .select(
            arm.alias("g"),
            (F.col("tv") > F.col("med")).cast("int").alias("above"),
        )
        .groupBy("g", "above")
        .agg(F.count("*").alias("c"))
    )
    wide = cells.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("g") == g) & (F.col("above") == a),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias(f"c{g}{a}")
            for g in (0, 1)
            for a in (0, 1)
        ]
    )
    a_, b_, c_, d_ = (
        F.col("c00").cast("double"),
        F.col("c01").cast("double"),
        F.col("c10").cast("double"),
        F.col("c11").cast("double"),
    )
    n = a_ + b_ + c_ + d_
    # Yates continuity correction clamps at 0: when |ad-bc| < n/2 the
    # corrected statistic is 0, not the square of a negative number
    num = F.greatest(F.abs(a_ * d_ - b_ * c_) - n / 2.0, F.lit(0.0))
    chi = n * num * num / (
        (a_ + b_) * (c_ + d_) * (a_ + c_) * (b_ + d_)
    )
    return wide.select(
        F.col("c00").cast("long").alias("ctl_below"),
        F.col("c01").cast("long").alias("ctl_above"),
        F.col("c10").cast("long").alias("trt_below"),
        F.col("c11").cast("long").alias("trt_above"),
        F.round(chi, 6).alias("chi2_cc"),
        (chi > 3.841459).alias("reject_equal_medians"),
    )


A_MOOD_SQL = """
WITH per_user AS (
  SELECT user_id,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS tv
  FROM events GROUP BY user_id
),
med AS (SELECT quantile_disc(tv, 0.5) AS med FROM per_user),
cells AS (
  SELECT
    CAST(('0x' || substring(md5('arm:' ||
        CAST(user_id AS VARCHAR)), 1, 13)) AS UBIGINT) % 2 AS g,
    CASE WHEN tv > med THEN 1 ELSE 0 END AS above,
    COUNT(*) AS c
  FROM per_user CROSS JOIN med GROUP BY 1, 2
),
wide AS (
  SELECT
    COALESCE(MAX(CASE WHEN g = 0 AND above = 0 THEN c END), 0) AS c00,
    COALESCE(MAX(CASE WHEN g = 0 AND above = 1 THEN c END), 0) AS c01,
    COALESCE(MAX(CASE WHEN g = 1 AND above = 0 THEN c END), 0) AS c10,
    COALESCE(MAX(CASE WHEN g = 1 AND above = 1 THEN c END), 0) AS c11
  FROM cells
)
SELECT CAST(c00 AS BIGINT) AS ctl_below,
  CAST(c01 AS BIGINT) AS ctl_above,
  CAST(c10 AS BIGINT) AS trt_below,
  CAST(c11 AS BIGINT) AS trt_above,
  ROUND((CAST(c00 AS DOUBLE) + c01 + c10 + c11)
    * GREATEST(ABS(CAST(c00 AS DOUBLE) * c11 - CAST(c01 AS DOUBLE) * c10)
       - (CAST(c00 AS DOUBLE) + c01 + c10 + c11) / 2.0, 0.0)
    * GREATEST(ABS(CAST(c00 AS DOUBLE) * c11 - CAST(c01 AS DOUBLE) * c10)
       - (CAST(c00 AS DOUBLE) + c01 + c10 + c11) / 2.0, 0.0)
    / ((CAST(c00 AS DOUBLE) + c01) * (CAST(c10 AS DOUBLE) + c11)
       * (CAST(c00 AS DOUBLE) + c10) * (CAST(c01 AS DOUBLE) + c11)),
    6) AS chi2_cc,
  ((CAST(c00 AS DOUBLE) + c01 + c10 + c11)
    * GREATEST(ABS(CAST(c00 AS DOUBLE) * c11 - CAST(c01 AS DOUBLE) * c10)
       - (CAST(c00 AS DOUBLE) + c01 + c10 + c11) / 2.0, 0.0)
    * GREATEST(ABS(CAST(c00 AS DOUBLE) * c11 - CAST(c01 AS DOUBLE) * c10)
       - (CAST(c00 AS DOUBLE) + c01 + c10 + c11) / 2.0, 0.0)
    / ((CAST(c00 AS DOUBLE) + c01) * (CAST(c10 AS DOUBLE) + c11)
       * (CAST(c00 AS DOUBLE) + c10) * (CAST(c01 AS DOUBLE) + c11))
   > 3.841459) AS reject_equal_medians
FROM wide
"""


SPECS = [
    QuerySpec(
        "q_second_order_conversion",
        q_second_order_conversion,
        Q_SECOND_SQL,
        doc="90-day second-order conversion per acquisition vintage",
        tags=("bi", "lifecycle"),
    ),
    QuerySpec(
        "a_moods_median",
        a_moods_median,
        A_MOOD_SQL,
        doc="Mood's median 2x2 chi-square across md5 arms",
        tags=("stats", "experimentation"),
    ),
]
