"""Fifty-sixth wave: embedding MMD, Theil-Sen robust slope, and
adstock regression.

Reference parity note: embedding-drift + robust-stats + marketing
extensions; every query carries an exact DuckDB oracle.

- **Linear-kernel MMD** (`e_embedding_mmd`) — maximum mean
  discrepancy between even- and odd-label embedding populations
  with the linear kernel, which collapses to the squared distance
  between the two mean vectors: per-dimension means via posexplode
  (one shuffle on the dim index), the final distance a constant-
  size reduction.  The embedding-space distribution-shift metric.
- **Theil-Sen slope** (`a_theil_sen`) — robust trend of daily
  revenue: the MEDIAN of all pairwise day-slopes (30 days -> 435
  pairs, constant-size after the daily rollup), selected by exact
  order statistics with a unique tiebreak — no percentile
  interpolation, no outlier sensitivity.
- **Adstock regression** (`q_adstock_ols`) — marketing-mix shape:
  geometric adstock (decay 0.5) of daily click counts via
  WITH RECURSIVE day recursion (exact integer-scaled carryover),
  then OLS of daily purchase value on the adstocked clicks.  The
  Spark side runs the same recursion as a sorted-array fold
  (F.aggregate) — bounded by the calendar, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# e_embedding_mmd
# ------------------------------------------------------------------ #


def e_embedding_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel MMD^2 = ||mean(even) - mean(odd)||^2 between
    label-parity embedding populations."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        (F.col("label") % 2).alias("grp"),
        F.posexplode(F.col("embedding")).alias("d", "x"),
    ).select("grp", "d", F.col("x").cast("double").alias("x"))
    means = dims.groupBy("d").agg(
        (
            F.sum(
                F.when(F.col("grp") == 0, F.col("x").cast("decimal(27,10)"))
            )
            / F.sum((F.col("grp") == 0).cast("long"))
        ).cast("double").alias("m0"),
        (
            F.sum(
                F.when(F.col("grp") == 1, F.col("x").cast("decimal(27,10)"))
            )
            / F.sum((F.col("grp") == 1).cast("long"))
        ).cast("double").alias("m1"),
    )
    return means.agg(
        F.count("*").cast("long").alias("n_dims"),
        F.round(
            F.sum(
                (
                    (F.col("m0") - F.col("m1"))
                    * (F.col("m0") - F.col("m1"))
                ).cast("decimal(38,14)")
            ).cast("double"),
            6,
        ).alias("mmd2"),
    )


E_MMD_SQL = """
WITH dims AS (
  SELECT label % 2 AS grp, d, CAST(x AS DOUBLE) AS x
  FROM (
    SELECT label, unnest(embedding) AS x,
      generate_subscripts(embedding, 1) AS d
    FROM embeddings
  )
),
means AS (
  SELECT d,
    CAST(SUM(CASE WHEN grp = 0
          THEN CAST(x AS DECIMAL(27,10)) END)
      / SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS m0,
    CAST(SUM(CASE WHEN grp = 1
          THEN CAST(x AS DECIMAL(27,10)) END)
      / SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS m1
  FROM dims GROUP BY d
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
  ROUND(CAST(SUM(CAST((m0 - m1) * (m0 - m1) AS DECIMAL(38,14)))
             AS DOUBLE), 6) AS mmd2
FROM means
"""


# ------------------------------------------------------------------ #
# a_theil_sen
# ------------------------------------------------------------------ #


def a_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of daily revenue: exact median of all
    pairwise slopes over the daily rollup."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.4): daily feeds both pairwise-slope sides;
    # unstaged, the events rollup re-ran per side (2 duplicate
    # scans).  Day-cardinality staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    daily = _stage(
        ev.groupBy(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d")
        ).agg(
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("rev")
        )
    )
    a = daily.select(
        F.col("d").alias("d1"), F.col("rev").alias("r1")
    )
    b = daily.select(
        F.col("d").alias("d2"), F.col("rev").alias("r2")
    )
    slopes = (
        a.join(b, F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            (
                (F.col("r2") - F.col("r1"))
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    from pyspark.sql import Window

    ranked = slopes.select(
        "slope",
        F.row_number()
        .over(Window.orderBy("slope", "d1", "d2"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.round(
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("n") + 1) / 2),
                    F.col("slope"),
                )
            ),
            6,
        ).alias("theil_sen_slope"),
    )


A_THEILSEN_SQL = """
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS rev
  FROM events GROUP BY 1
),
slopes AS (
  SELECT a.d AS d1, b.d AS d2,
    (b.rev - a.rev) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.d < b.d
),
ranked AS (
  SELECT slope,
    ROW_NUMBER() OVER (ORDER BY slope, d1, d2) AS rn,
    COUNT(*) OVER () AS n
  FROM slopes
)
SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
  ROUND(MAX(CASE WHEN rn = (n + 1) // 2 THEN slope END), 6)
    AS theil_sen_slope
FROM ranked
"""


# ------------------------------------------------------------------ #
# q_adstock_ols
# ------------------------------------------------------------------ #

_DECAY_NUM, _DECAY_DEN = 1, 2  # geometric decay 0.5, exact in binary


def q_adstock_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS of daily purchase value on geometrically adstocked click
    counts (decay 0.5)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d")
    ).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias(
            "clicks"
        ),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(27,6)"),
            ).otherwise(F.lit(0).cast("decimal(27,6)"))
        )
        .cast("double")
        .alias("rev"),
    )
    # adstock_t = clicks_t + 0.5 * adstock_{t-1}: fold over the
    # day-sorted array (decay 0.5 is exact in binary floats)
    arr = daily.agg(
        F.sort_array(
            F.collect_list(F.struct("d", "clicks", "rev"))
        ).alias("days")
    )
    folded = arr.select(
        F.explode(
            F.expr(
                """
                aggregate(
                  days,
                  struct(
                    cast(0.0 as double) AS carry,
                    cast(array() AS
                      array<struct<d:int,x:double,rev:double>>) AS acc
                  ),
                  (st, e) -> struct(
                    e.clicks + 0.5D * st.carry AS carry,
                    concat(st.acc, array(struct(
                      e.d AS d,
                      e.clicks + 0.5D * st.carry AS x,
                      e.rev AS rev))) AS acc
                  ),
                  st -> st.acc
                )
                """
            )
        ).alias("row")
    ).select("row.d", "row.x", "row.rev")
    sums = folded.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(27,8)")).alias("sx"),
        F.sum(F.col("rev").cast("decimal(27,6)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,10)")).alias("sxx"),
        F.sum((F.col("x") * F.col("rev")).cast("decimal(38,10)")).alias(
            "sxy"
        ),
    ).select(
        "n",
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    alpha = F.col("sy") / F.col("n") - beta * F.col("sx") / F.col("n")
    return sums.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(beta, 6).alias("beta_adstock"),
        F.round(alpha, 6).alias("alpha"),
    )


Q_ADSTOCK_SQL = """
WITH RECURSIVE daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
    CAST(SUM(CASE WHEN event_type = 'purchase'
        THEN CAST(value AS DECIMAL(27,6))
        ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE) AS rev
  FROM events GROUP BY 1
),
ordered AS (
  SELECT d, clicks, rev,
    ROW_NUMBER() OVER (ORDER BY d) AS rn
  FROM daily
),
ad(rn, d, x, rev) AS (
  SELECT rn, d, CAST(clicks AS DOUBLE), rev FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.d, o.clicks + 0.5 * ad.x, o.rev
  FROM ordered o JOIN ad ON o.rn = ad.rn + 1
),
sums AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(27,8))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(rev AS DECIMAL(27,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(x * rev AS DECIMAL(38,10))) AS DOUBLE) AS sxy
  FROM ad
)
SELECT CAST(n AS BIGINT) AS n_days,
  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6)
    AS beta_adstock,
  ROUND(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n,
        6) AS alpha
FROM sums
"""


SPECS = [
    QuerySpec(
        "e_embedding_mmd",
        e_embedding_mmd,
        E_MMD_SQL,
        doc="linear-kernel MMD^2 between label-parity embedding groups",
        tags=("embedding", "stats"),
    ),
    QuerySpec(
        "a_theil_sen",
        a_theil_sen,
        A_THEILSEN_SQL,
        doc="Theil-Sen robust slope: exact median of pairwise day slopes",
        tags=("stats", "timeseries"),
    ),
    QuerySpec(
        "q_adstock_ols",
        q_adstock_ols,
        Q_ADSTOCK_SQL,
        doc="OLS of purchase value on 0.5-decay adstocked clicks",
        tags=("timeseries", "marketing"),
    ),
]
