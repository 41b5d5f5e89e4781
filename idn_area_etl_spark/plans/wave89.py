"""Eighty-ninth wave: Matthews correlation, discount response, and
return-rate adverse selection.

Reference parity note: binary-eval completion + retail elasticity on
the so-far-unused discount column; every query carries an exact
DuckDB oracle.

- **MCC** (`a_mcc`) — the Matthews correlation coefficient of the
  median-split score classifier (wave-32 scorer thresholded at its
  own median) against label parity: the single-number binary metric
  robust to imbalance, from the four confusion cells.
- **Discount response** (`q_discount_response`) — retail elasticity:
  mean ordered quantity per discount band (percent points) plus the
  OLS slope of quantity on discount across line items — does price
  promotion move volume?
- **Returns by discount** (`q_return_rate_by_discount`) — adverse
  selection screen: the return-flag rate per discount band; rising
  return rates on deeper discounts signal margin-destroying
  promotions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.plans.wave32 import _score_expr, _score_sql
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_mcc
# ------------------------------------------------------------------ #


def a_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCC of the median-split scorer vs label parity."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r9-opt (guide §2.4): scored feeds the median probe and the
    # confusion cells; unstaged, the embeddings scan + scorer re-ran
    # per consumer (2 duplicate scans).
    scored = _stage(
        emb.select(
            _score_expr(F.col("embedding")).alias("score"),
            (F.col("label") % 2 == 1).cast("int").alias("y"),
        )
    )
    med = scored.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY score)"
        ).alias("med")
    )
    cells = (
        scored.crossJoin(F.broadcast(med))
        .select(
            (F.col("score") > F.col("med")).cast("int").alias("pred"),
            "y",
        )
        .groupBy("pred", "y")
        .agg(F.count("*").alias("c"))
    )
    wide = cells.agg(
        F.coalesce(
            F.max(F.when((F.col("pred") == 1) & (F.col("y") == 1), F.col("c"))),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.max(F.when((F.col("pred") == 1) & (F.col("y") == 0), F.col("c"))),
            F.lit(0),
        ).alias("fp"),
        F.coalesce(
            F.max(F.when((F.col("pred") == 0) & (F.col("y") == 1), F.col("c"))),
            F.lit(0),
        ).alias("fn"),
        F.coalesce(
            F.max(F.when((F.col("pred") == 0) & (F.col("y") == 0), F.col("c"))),
            F.lit(0),
        ).alias("tn"),
    )
    tp, fp, fn, tn = (
        F.col("tp").cast("double"),
        F.col("fp").cast("double"),
        F.col("fn").cast("double"),
        F.col("tn").cast("double"),
    )
    mcc = (tp * tn - fp * fn) / F.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    return wide.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.round(mcc, 6).alias("mcc"),
    )


A_MCC_SQL = f"""
WITH scored AS (
  SELECT {_score_sql()} AS score,
    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
med AS (SELECT quantile_disc(score, 0.5) AS med FROM scored),
cells AS (
  SELECT CASE WHEN score > med THEN 1 ELSE 0 END AS pred, y,
    COUNT(*) AS c
  FROM scored CROSS JOIN med GROUP BY 1, 2
),
wide AS (
  SELECT
    COALESCE(MAX(CASE WHEN pred = 1 AND y = 1 THEN c END), 0) AS tp,
    COALESCE(MAX(CASE WHEN pred = 1 AND y = 0 THEN c END), 0) AS fp,
    COALESCE(MAX(CASE WHEN pred = 0 AND y = 1 THEN c END), 0) AS fn,
    COALESCE(MAX(CASE WHEN pred = 0 AND y = 0 THEN c END), 0) AS tn
  FROM cells
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
  ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
    / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
           * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)),
    6) AS mcc
FROM wide
"""


# ------------------------------------------------------------------ #
# q_discount_response
# ------------------------------------------------------------------ #


def q_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean quantity per discount band + the OLS slope of quantity on
    discount."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.round(F.col("l_discount") * 100).cast("int").alias("band"),
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_discount").cast("double").alias("x"),
    )
    # r9-opt (guide §2.3/§2.4): ONE staged per-band rollup carries the
    # OLS moment sums, so the global moments roll up from the band
    # cells (decimal sums are associative → bit-identical) instead of
    # a second lineitem scan.
    cells = _stage(
        base.groupBy("band").agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("q").cast("decimal(27,2)")).alias("syb"),
            F.sum(F.col("x").cast("decimal(27,8)")).alias("sxb"),
            F.sum(
                (F.col("x") * F.col("x")).cast("decimal(38,12)")
            ).alias("sxxb"),
            F.sum(
                (F.col("x") * F.col("q")).cast("decimal(38,8)")
            ).alias("sxyb"),
        )
    )
    per_band = cells.select(
        "band",
        "n_lines",
        F.round(
            F.col("syb").cast("double") / F.col("n_lines"), 6
        ).alias("mean_qty"),
    )
    m = cells.agg(
        F.sum("n_lines").alias("n"),
        F.sum("sxb").alias("sx"),
        F.sum("syb").alias("sy"),
        F.sum("sxxb").alias("sxx"),
        F.sum("sxyb").alias("sxy"),
    ).select(
        "n",
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return (
        per_band.crossJoin(
            F.broadcast(m.select(F.round(slope, 6).alias("qty_slope")))
        )
        .orderBy("band")
    )


Q_DISCOUNT_SQL = """
WITH base AS (
  SELECT CAST(ROUND(l_discount * 100) AS INT) AS band,
    CAST(l_quantity AS DOUBLE) AS q,
    CAST(l_discount AS DOUBLE) AS x
  FROM lineitem
),
per_band AS (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_lines,
    ROUND(CAST(SUM(CAST(q AS DECIMAL(27,2))) AS DOUBLE) / COUNT(*),
          6) AS mean_qty
  FROM base GROUP BY band
),
m AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(27,8))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(q AS DECIMAL(27,2))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(x * q AS DECIMAL(38,8))) AS DOUBLE) AS sxy
  FROM base
)
SELECT band, n_lines, mean_qty,
  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS qty_slope
FROM per_band CROSS JOIN m
ORDER BY band
"""


# ------------------------------------------------------------------ #
# q_return_rate_by_discount
# ------------------------------------------------------------------ #


def q_return_rate_by_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Return-flag rate per discount band."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.round(F.col("l_discount") * 100).cast("int").alias("band"),
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    return (
        base.groupBy("band")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("ret").alias("n_returned"),
            F.round(
                F.sum("ret").cast("double") / F.count("*"), 6
            ).alias("return_rate"),
        )
        .orderBy("band")
    )


Q_RETURNS_SQL = """
SELECT CAST(ROUND(l_discount * 100) AS INT) AS band,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_returned,
  ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS return_rate
FROM lineitem GROUP BY 1 ORDER BY 1
"""


SPECS = [
    QuerySpec(
        "a_mcc",
        a_mcc,
        A_MCC_SQL,
        doc="Matthews correlation of the median-split scorer",
        tags=("ml-eval",),
    ),
    QuerySpec(
        "q_discount_response",
        q_discount_response,
        Q_DISCOUNT_SQL,
        doc="mean quantity per discount band + OLS volume slope",
        tags=("bi", "pricing"),
    ),
    QuerySpec(
        "q_return_rate_by_discount",
        q_return_rate_by_discount,
        Q_RETURNS_SQL,
        doc="return-flag rate per discount band (adverse selection)",
        tags=("bi", "pricing"),
    ),
]
