"""Eighty-eighth wave: statistical process control and embedding
dimension redundancy.

Reference parity note: SPC monitoring + representation diagnostics;
every query carries an exact DuckDB oracle.

- **X-bar control chart** (`a_xbar_control`) — the SPC classic:
  daily mean event value against 3-sigma control limits derived
  from the full-period mean and the per-day sampling deviation
  (sigma / sqrt(n_day)); reports each day's z and the out-of-
  control flag.  Complements CUSUM (wave28): control charts flag
  individual excursions, CUSUM accumulates drifts.
- **Dimension correlation** (`e_dim_correlation_top`) — redundancy
  screen for the embedding space: the top-5 most-correlated
  dimension PAIRS (|Pearson| over the 500 vectors).  High pairwise
  correlation means wasted capacity — the precursor check to PCA
  or feature pruning.  Cross-moments come from one dim x dim join
  keyed on the row id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_xbar_control
# ------------------------------------------------------------------ #


def a_xbar_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily mean value vs 3-sigma control limits; out-of-control
    days."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.3/§2.4): ONE staged daily rollup carries the
    # value and squared-value sums, so the global 3-sigma limits roll
    # up from the day cells (decimal sums are associative →
    # bit-identical N/S/SS) instead of re-scanning events.
    from idn_area_etl_spark.operators.stage import _stage

    cells = _stage(
        ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
            F.sum(
                (F.col("value") * F.col("value")).cast("decimal(38,10)")
            ).alias("ss"),
        )
    )
    daily = cells.select(
        "day",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("xbar"),
    )
    glob = cells.agg(
        F.sum("n").alias("N"),
        F.sum("s").alias("S"),
        F.sum("ss").alias("SS"),
    ).select(
        (F.col("S").cast("double") / F.col("N")).alias("mu"),
        F.sqrt(
            (
                F.col("SS").cast("double")
                - F.col("S").cast("double")
                * (F.col("S").cast("double") / F.col("N"))
            )
            / (F.col("N") - 1)
        ).alias("sigma"),
    )
    z = (F.col("xbar") - F.col("mu")) / (
        F.col("sigma") / F.sqrt(F.col("n").cast("double"))
    )
    return (
        daily.crossJoin(F.broadcast(glob))
        .select(
            "day",
            "n",
            F.round("xbar", 6).alias("xbar"),
            F.round(z, 6).alias("z"),
            (F.abs(z) > 3.0).alias("out_of_control"),
        )
        .orderBy("day")
    )


A_XBAR_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
      AS xbar
  FROM events GROUP BY 1
),
gstats AS (
  SELECT CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
      / COUNT(*) AS mu,
    sqrt((CAST(SUM(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE)
      - CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
        * (CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
           / COUNT(*)))
      / (COUNT(*) - 1)) AS sigma
  FROM events
)
SELECT day, CAST(n AS BIGINT) AS n, ROUND(xbar, 6) AS xbar,
  ROUND((xbar - mu) / (sigma / sqrt(CAST(n AS DOUBLE))), 6) AS z,
  (ABS((xbar - mu) / (sigma / sqrt(CAST(n AS DOUBLE)))) > 3.0)
    AS out_of_control
FROM daily CROSS JOIN gstats
ORDER BY day
"""


# ------------------------------------------------------------------ #
# e_dim_correlation_top
# ------------------------------------------------------------------ #


def e_dim_correlation_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most-|correlated| embedding dimension pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.col("vec_id").alias("rid"),
        F.posexplode(F.col("embedding")).alias("d", "x"),
    ).select("rid", "d", F.col("x").cast("double").alias("x"))
    a = dims.select(
        "rid", F.col("d").alias("d1"), F.col("x").alias("x1")
    )
    b = dims.select(
        "rid", F.col("d").alias("d2"), F.col("x").alias("x2")
    )
    pairs = a.join(b, "rid").filter(F.col("d1") < F.col("d2"))
    m = pairs.groupBy("d1", "d2").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x1").cast("decimal(27,10)")).alias("s1"),
        F.sum(F.col("x2").cast("decimal(27,10)")).alias("s2"),
        F.sum((F.col("x1") * F.col("x1")).cast("decimal(38,12)")).alias(
            "s11"
        ),
        F.sum((F.col("x2") * F.col("x2")).cast("decimal(38,12)")).alias(
            "s22"
        ),
        F.sum((F.col("x1") * F.col("x2")).cast("decimal(38,12)")).alias(
            "s12"
        ),
    )
    n = F.col("n")
    num = n * F.col("s12").cast("double") - F.col("s1").cast(
        "double"
    ) * F.col("s2").cast("double")
    den = F.sqrt(
        (
            n * F.col("s11").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        * (
            n * F.col("s22").cast("double")
            - F.col("s2").cast("double") * F.col("s2").cast("double")
        )
    )
    scored = m.select(
        "d1", "d2", F.round(num / den, 6).alias("corr")
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc(F.abs("corr")), "d1", "d2")
            ).cast("int"),
        )
        .filter(F.col("rnk") <= 5)
        .orderBy("rnk")
    )


E_DIMCORR_SQL = """
WITH dims AS (
  SELECT vec_id AS rid, d - 1 AS d, CAST(x AS DOUBLE) AS x
  FROM (
    SELECT vec_id, unnest(embedding) AS x,
      generate_subscripts(embedding, 1) AS d
    FROM embeddings
  )
),
m AS (
  SELECT a.d AS d1, b.d AS d2, COUNT(*) AS n,
    CAST(SUM(CAST(a.x AS DECIMAL(27,10))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(b.x AS DECIMAL(27,10))) AS DOUBLE) AS s2,
    CAST(SUM(CAST(a.x * a.x AS DECIMAL(38,12))) AS DOUBLE) AS s11,
    CAST(SUM(CAST(b.x * b.x AS DECIMAL(38,12))) AS DOUBLE) AS s22,
    CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS DOUBLE) AS s12
  FROM dims a JOIN dims b ON a.rid = b.rid AND a.d < b.d
  GROUP BY 1, 2
),
scored AS (
  SELECT d1, d2,
    ROUND((n * s12 - s1 * s2)
      / sqrt((n * s11 - s1 * s1) * (n * s22 - s2 * s2)), 6) AS corr
  FROM m
)
SELECT d1, d2, corr,
  CAST(ROW_NUMBER() OVER (ORDER BY ABS(corr) DESC, d1, d2) AS INT)
    AS rnk
FROM scored
QUALIFY rnk <= 5
ORDER BY rnk
"""


SPECS = [
    QuerySpec(
        "a_xbar_control",
        a_xbar_control,
        A_XBAR_SQL,
        doc="X-bar 3-sigma control chart over daily mean value",
        tags=("timeseries", "monitoring"),
    ),
    QuerySpec(
        "e_dim_correlation_top",
        e_dim_correlation_top,
        E_DIMCORR_SQL,
        doc="top-5 most-correlated embedding dimension pairs",
        tags=("embedding", "quality"),
    ),
]
