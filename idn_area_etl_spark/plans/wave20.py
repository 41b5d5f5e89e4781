"""Twentieth wave: data-quality and statistical-audit operators.

- **Expectation report** — the deequ/dbt-test capability every ETL
  engine needs: uniqueness, referential integrity, range, and
  null-rate checks computed as ONE pass per table (each check a
  conditional aggregate; the RI check a broadcast anti-join count),
  emitted as a machine-readable report table.
- **Benford first-digit screen** — the classic forensic audit: first
  significant digits of amounts vs the log10(1+1/d) law.  Digit
  extraction is exact integer math on a single per-row double
  expression; shares and chi-square contributions are per-row
  doubles rounded at 6dp.
- **Dormancy / reactivation** — per-user behavioral gaps: lag() once,
  then count gaps above threshold and the maximum gap.
- **Welch A/B t-test** — exact-decimal power sums (the
  q_corr_qty_price pattern) → bit-deterministic means, variances and
  t statistic under any partitioning; F.avg/F.var_samp float
  streaming would not be.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite report over orders/lineitem/customer.

    Each RI check is folded into its table's single check pass as a
    left join against the DISTINCT referenced keys plus a
    null-indicator count.  Distinct keys keep the row multiplicity of
    the referencing table even when the referenced key is duplicated
    (which ``orders_pk_unique`` exists to report), so a duplicated
    ``c_custkey`` or ``o_orderkey`` inflates no other count.  A NULL
    foreign key counts as a violation here, while the oracle's
    ``NOT IN`` yields NULL for it and does not count it.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    cust_keys = c.select("c_custkey").distinct().withColumn("_c_hit", F.lit(1))
    order_keys = (
        o.select(F.col("o_orderkey").alias("_ok")).distinct().withColumn("_o_hit", F.lit(1))
    )

    orders_checks = (
        o.join(
            cust_keys,
            o.o_custkey == F.col("c_custkey"),
            "left",
        )
        .agg(
            (F.count("*") - F.count_distinct("o_orderkey")).alias(
                "orders_pk_unique"
            ),
            F.sum(
                (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
            ).alias("orders_status_domain"),
            F.sum((F.col("o_totalprice") <= 0).cast("long")).alias(
                "orders_price_positive"
            ),
            F.sum(F.col("o_orderdate").isNull().cast("long")).alias(
                "orders_date_not_null"
            ),
            F.sum(F.col("_c_hit").isNull().cast("long")).alias(
                "orders_custkey_ri"
            ),
        )
    )
    li_checks = (
        li.join(
            order_keys,
            li.l_orderkey == F.col("_ok"),
            "left",
        )
        .agg(
            F.sum(
                (
                    (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 100)
                ).cast("long")
            ).alias("lineitem_qty_range"),
            F.sum(
                ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast(
                    "long"
                )
            ).alias("lineitem_discount_range"),
            F.sum(F.col("_o_hit").isNull().cast("long")).alias(
                "lineitem_orderkey_ri"
            ),
        )
    )
    wide = orders_checks.crossJoin(li_checks)
    long = wide.unpivot(
        [],
        [
            "orders_pk_unique",
            "orders_status_domain",
            "orders_price_positive",
            "orders_date_not_null",
            "lineitem_qty_range",
            "lineitem_discount_range",
            "orders_custkey_ri",
            "lineitem_orderkey_ri",
        ],
        "check_name",
        "n_violations",
    )
    return long.select(
        "check_name",
        "n_violations",
        (F.col("n_violations") == 0).cast("int").alias("passed"),
    ).orderBy("check_name")


Q_DQ_SQL = """
WITH wide AS (
  SELECT
    (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
     FROM orders) AS orders_pk_unique,
    (SELECT CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                          THEN 1 ELSE 0 END) AS BIGINT)
     FROM orders) AS orders_status_domain,
    (SELECT CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                 AS BIGINT) FROM orders) AS orders_price_positive,
    (SELECT CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) FROM orders) AS orders_date_not_null,
    (SELECT CAST(SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 100
                          THEN 1 ELSE 0 END) AS BIGINT)
     FROM lineitem) AS lineitem_qty_range,
    (SELECT CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                          THEN 1 ELSE 0 END) AS BIGINT)
     FROM lineitem) AS lineitem_discount_range,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      AS orders_custkey_ri,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      AS lineitem_orderkey_ri
)
SELECT check_name, n_violations,
  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM (
  SELECT 'orders_pk_unique' AS check_name,
         orders_pk_unique AS n_violations FROM wide
  UNION ALL SELECT 'orders_status_domain', orders_status_domain FROM wide
  UNION ALL SELECT 'orders_price_positive', orders_price_positive FROM wide
  UNION ALL SELECT 'orders_date_not_null', orders_date_not_null FROM wide
  UNION ALL SELECT 'lineitem_qty_range', lineitem_qty_range FROM wide
  UNION ALL SELECT 'lineitem_discount_range', lineitem_discount_range
    FROM wide
  UNION ALL SELECT 'orders_custkey_ri', orders_custkey_ri FROM wide
  UNION ALL SELECT 'lineitem_orderkey_ri', lineitem_orderkey_ri FROM wide
)
ORDER BY check_name
"""


def q_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law, with per-digit chi-square contributions."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    total = counts.agg(F.sum("n").alias("total"))
    j = counts.crossJoin(F.broadcast(total))
    obs = F.col("n").cast("double") / F.col("total").cast("double")
    exp = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    chi = (
        (obs - exp) * (obs - exp) / exp * F.col("total").cast("double")
    )
    return j.select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_share"),
        F.round(exp, 6).alias("benford_share"),
        F.round(chi, 6).alias("chi2_contrib"),
    ).orderBy("digit")


Q_BENFORD_SQL = """
WITH counts AS (
  SELECT CAST(FLOOR(o_totalprice
           / POWER(10.0, FLOOR(LOG10(o_totalprice)))) AS INT) AS digit,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT digit, n,
  ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS obs_share,
  ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_share,
  ROUND((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
         - LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        * (CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
           - LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        / LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))
        * CAST(total AS DOUBLE), 6) AS chi2_contrib
FROM counts CROSS JOIN total
ORDER BY digit
"""


DORMANT_HOURS = 72


def q_dormancy_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dormancy profile: reactivations (gaps > 72h) and the
    longest gap, from one lag() pass."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    gaps = ev.select("user_id", gap_us.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    thresh = DORMANT_HOURS * 3600 * 1_000_000
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum((F.col("gap_us") > thresh).cast("long")).alias(
                "n_reactivations"
            ),
            F.round(F.max("gap_us").cast("double") / 3.6e9, 6).alias(
                "max_gap_hours"
            ),
        )
        .orderBy("user_id")
    )


Q_DORMANCY_SQL = f"""
WITH gaps AS (
  SELECT user_id,
    epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_gaps,
  CAST(SUM(CASE WHEN gap_us > CAST({DORMANT_HOURS} AS BIGINT)
                               * 3600 * 1000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_reactivations,
  ROUND(CAST(MAX(gap_us) AS DOUBLE) / 3.6e9, 6) AS max_gap_hours
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test of event value between cohorts
    (user_id parity), per event type — exact decimal power sums →
    bit-deterministic under any partitioning."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")

    def dsum(c: Column, alias: str) -> Column:
        return F.sum(c.cast("decimal(30,6)")).cast("double").alias(alias)

    grp = ev.withColumn("cohort", (F.col("user_id") % 2).cast("int"))
    sums = grp.groupBy("event_type", "cohort").agg(
        F.count("*").alias("n"), dsum(v, "s"), dsum(v * v, "ss")
    )
    a = sums.filter(F.col("cohort") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = sums.filter(F.col("cohort") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    j = a.join(b, "event_type")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("s_a") / na, F.col("s_b") / nb
    va = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / na) / (na - 1)
    vb = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / nb) / (nb - 1)
    t = (ma - mb) / F.sqrt(va / na + vb / nb)
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
    ).orderBy("event_type")


Q_AB_SQL = """
WITH sums AS (
  SELECT event_type, CAST(user_id % 2 AS INT) AS cohort,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS s,
    CAST(SUM(CAST(value * value AS DECIMAL(30,6))) AS DOUBLE) AS ss
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT a.event_type,
    a.n AS n_a, a.s AS s_a, a.ss AS ss_a,
    b.n AS n_b, b.s AS s_b, b.ss AS ss_b
  FROM sums a JOIN sums b
    ON a.event_type = b.event_type AND a.cohort = 0 AND b.cohort = 1
)
SELECT event_type, n_a, n_b,
  ROUND(s_a / CAST(n_a AS DOUBLE), 6) AS mean_a,
  ROUND(s_b / CAST(n_b AS DOUBLE), 6) AS mean_b,
  ROUND((s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE))
        / SQRT(((ss_a - s_a * s_a / CAST(n_a AS DOUBLE))
                / (CAST(n_a AS DOUBLE) - 1)) / CAST(n_a AS DOUBLE)
               + ((ss_b - s_b * s_b / CAST(n_b AS DOUBLE))
                  / (CAST(n_b AS DOUBLE) - 1)) / CAST(n_b AS DOUBLE)),
        6) AS t_stat
FROM j ORDER BY event_type
"""


SPECS = [
    QuerySpec("q_data_quality_report", q_data_quality_report, Q_DQ_SQL,
              doc="expectation-suite data-quality report (deequ-style)",
              tags=("quality", "etl")),
    QuerySpec("q_benford_totalprice", q_benford_totalprice, Q_BENFORD_SQL,
              doc="Benford first-digit forensic screen with chi2 contributions",
              tags=("stats",)),
    QuerySpec("q_dormancy_reactivation", q_dormancy_reactivation,
              Q_DORMANCY_SQL,
              doc="per-user dormancy gaps and reactivation counts",
              tags=("events",)),
    QuerySpec("q_ab_ttest", q_ab_ttest, Q_AB_SQL,
              doc="Welch A/B t-test from exact decimal power sums",
              tags=("stats",)),
]
