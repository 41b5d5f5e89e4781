"""Seventy-eighth wave: Simpson's-paradox screening and intrinsic
dimension.

Reference parity note: analytic-pitfall detection + modern embedding
geometry; every query carries an exact DuckDB oracle.

- **Simpson check** (`a_simpsons_check`) — the aggregation pitfall
  detector: the POOLED OLS slope of order value on order count
  across customers vs the same slope WITHIN each market segment;
  flags segments whose sign disagrees with the pooled sign.  The
  report every metrics team should run before trusting a pooled
  trend.
- **Intrinsic dimension** (`e_intrinsic_dimension`) — the TwoNN
  estimator (Facco et al.): for each vector, mu = d2/d1 of its two
  nearest neighbors (cosine DISTANCE = 1 - cosine); ID =
  n / sum(ln mu).  The embedding-geometry health number behind
  "is this representation collapsed".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.similarity import (
    as_double_vec,
    dot_expr,
    norm_expr,
)
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_simpsons_check
# ------------------------------------------------------------------ #


def a_simpsons_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled vs per-segment OLS slope of customer spend on order
    count; sign-reversal flags."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("x"),
        F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("yv"),
    )
    # r9-opt (guide §2.4): base feeds the pooled and per-segment
    # moment passes; unstaged, the orders rollup + customer join
    # re-ran per consumer (2 duplicate scans).
    base = _stage(
        cust.join(
            per_cust, cust.c_custkey == per_cust.o_custkey
        ).select(
            "c_mktsegment",
            F.col("x").cast("double").alias("x"),
            F.col("yv").cast("double").alias("y"),
        )
    )

    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(27,6)")).alias("sx"),
            F.sum(F.col("y").cast("decimal(27,2)")).alias("sy"),
            F.sum(
                (F.col("x") * F.col("x")).cast("decimal(38,8)")
            ).alias("sxx"),
            F.sum(
                (F.col("x") * F.col("y")).cast("decimal(38,8)")
            ).alias("sxy"),
        )

    beta = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double")
        * F.col("sy").cast("double")
        / F.col("n")
    ) / (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double")
        * F.col("sx").cast("double")
        / F.col("n")
    )
    pooled = moments(base.withColumn("all", F.lit(1)), ["all"]).select(
        F.round(beta, 6).alias("pooled_beta")
    )
    per_seg = moments(base, ["c_mktsegment"]).select(
        "c_mktsegment", F.round(beta, 6).alias("seg_beta")
    )
    return (
        per_seg.crossJoin(F.broadcast(pooled))
        .select(
            "c_mktsegment",
            "seg_beta",
            "pooled_beta",
            (
                F.signum("seg_beta") != F.signum("pooled_beta")
            ).alias("sign_reversal"),
        )
        .orderBy("c_mktsegment")
    )


A_SIMPSON_SQL = """
WITH per_cust AS (
  SELECT o_custkey, COUNT(*) AS x,
    SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS yv
  FROM orders GROUP BY o_custkey
),
base AS (
  SELECT c_mktsegment, CAST(x AS DOUBLE) AS x,
    CAST(yv AS DOUBLE) AS y
  FROM customer JOIN per_cust ON c_custkey = o_custkey
),
pooled AS (
  SELECT ROUND((CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE)
      - CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE)
        * CAST(SUM(CAST(y AS DECIMAL(27,2))) AS DOUBLE) / COUNT(*))
    / (CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE)
      - CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE)
        * CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)),
    6) AS pooled_beta
  FROM base
),
per_seg AS (
  SELECT c_mktsegment,
    ROUND((CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE)
        - CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE)
          * CAST(SUM(CAST(y AS DECIMAL(27,2))) AS DOUBLE) / COUNT(*))
      / (CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE)
        - CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE)
          * CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)),
      6) AS seg_beta
  FROM base GROUP BY c_mktsegment
)
SELECT c_mktsegment, seg_beta, pooled_beta,
  (SIGN(seg_beta) <> SIGN(pooled_beta)) AS sign_reversal
FROM per_seg CROSS JOIN pooled
ORDER BY c_mktsegment
"""


# ------------------------------------------------------------------ #
# e_intrinsic_dimension
# ------------------------------------------------------------------ #


def e_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic dimension over cosine distances, estimated on a
    fixed 200-probe sample (``vec_id < 200``).

    Scale design (r6): the TwoNN estimator needs each point's two
    nearest neighbors — exact over the FULL corpus that is all-pairs
    (quadratic).  TwoNN is a statistical estimator, so it is computed
    on a literal-bounded probe sample whose neighbors still come from
    the full streaming corpus: two linear broadcast-probe passes (the
    second pass re-streams the corpus to find the runner-up past each
    probe's minimum — cheaper at scale than materializing 200× the
    corpus or funneling it through per-probe window tasks).  The
    (distance, cid) ordering is integer-encoded so min-struct
    aggregation reproduces the rank-1/rank-2 tie-breaks exactly.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # r9-opt (guide §2.4): v feeds the probe side and the corpus side
    # of BOTH linear passes; unstaged, the scan + norm re-ran per
    # consumer (3 duplicate scans).  The probe×corpus stream itself
    # stays unmaterialized by design (see docstring).
    v = _stage(
        emb.select(
            "vec_id", as_double_vec(F.col("embedding")).alias("vec")
        ).withColumn("nrm", norm_expr(F.col("vec")))
    )
    q = v.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("qid"),
        F.col("vec").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = v.select(
        F.col("vec_id").alias("cid"),
        F.col("vec").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    dist = F.round(
        1.0
        - dot_expr(F.col("qv"), F.col("cv"))
        / (F.col("qn") * F.col("cn")),
        9,
    )
    # 9-dp distances are >= 1e-9 apart, in [0, 2]: di = round(d*1e9)
    # is injective on them, so struct (di, cid) min-orders exactly
    # like ORDER BY d, cid — and d rides along (equal di => equal d)
    scored = c.join(F.broadcast(q), F.col("qid") != F.col("cid")).select(
        "qid",
        "cid",
        dist.alias("d"),
        F.round(dist * 1e9).cast("long").alias("di"),
    )
    first = scored.groupBy("qid").agg(
        F.min(
            F.struct(
                F.col("di").alias("di"),
                F.col("cid").alias("cid"),
                F.col("d").alias("d"),
            )
        ).alias("m1")
    )
    second = (
        scored.join(F.broadcast(first), "qid")
        .filter(
            F.struct(F.col("di").alias("di"), F.col("cid").alias("cid"))
            > F.struct(
                F.col("m1.di").alias("di"), F.col("m1.cid").alias("cid")
            )
        )
        .groupBy("qid")
        .agg(
            F.max(F.col("m1.d")).alias("d1"),
            F.min(
                F.struct(
                    F.col("di").alias("di"),
                    F.col("cid").alias("cid"),
                    F.col("d").alias("d"),
                )
            ).alias("m2"),
        )
    )
    two = second.select(
        "qid", "d1", F.col("m2.d").alias("d2")
    ).filter(F.col("d1") > 0)
    logs = two.select(
        F.log(F.col("d2") / F.col("d1"))
        .cast("decimal(27,12)")
        .alias("lmu")
    )
    return logs.agg(
        F.count("*").cast("long").alias("n_used"),
        F.round(
            F.count("*").cast("double") / F.sum("lmu").cast("double"),
            6,
        ).alias("twonn_id"),
    )


E_TWONN_SQL = """
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vec
  FROM embeddings
),
norms AS (
  SELECT vec_id, vec,
    sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
  FROM v
),
ranked AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
    ROUND(1.0 - list_sum(list_transform(
        generate_series(1, len(q.vec)),
        i -> q.vec[i] * c.vec[i])) / (q.nrm * c.nrm), 9) AS d,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      ROUND(1.0 - list_sum(list_transform(
          generate_series(1, len(q.vec)),
          i -> q.vec[i] * c.vec[i])) / (q.nrm * c.nrm), 9),
      c.vec_id) AS rnk
  FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 200
),
two AS (
  SELECT qid,
    MAX(CASE WHEN rnk = 1 THEN d END) AS d1,
    MAX(CASE WHEN rnk = 2 THEN d END) AS d2
  FROM ranked WHERE rnk <= 2 GROUP BY qid
),
logs AS (
  SELECT CAST(ln(d2 / d1) AS DECIMAL(27,12)) AS lmu
  FROM two WHERE d1 > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(lmu) AS DOUBLE), 6)
    AS twonn_id
FROM logs
"""


SPECS = [
    QuerySpec(
        "a_simpsons_check",
        a_simpsons_check,
        A_SIMPSON_SQL,
        doc="pooled vs per-segment OLS slope sign-reversal screen",
        tags=("stats", "bi"),
    ),
    QuerySpec(
        "e_intrinsic_dimension",
        e_intrinsic_dimension,
        E_TWONN_SQL,
        doc="TwoNN intrinsic dimension over cosine distances",
        tags=("embedding", "spectral"),
    ),
]
