"""Fifty-third wave: one-way ANOVA, Kendall rank stability, and
embedding outlier screening.

Reference parity note: statistics + embedding-quality extensions;
every query carries an exact DuckDB oracle.

- **One-way ANOVA** (`a_anova_oneway`) — between/within variance
  decomposition of customer balance across nations with the F
  statistic: the k-group generalization of the wave-20 Welch test.
  Group moments are exact decimal partial aggregates; the F ratio
  is one deterministic expression over the 25-row rollup.
- **Kendall tau** (`a_kendall_tau`) — rank-stability of nation
  revenue between the early (< 1998) and late (>= 1998) halves:
  exact tau-a from concordant/discordant pair counting over the
  25-row rank table (the self-join is constant-size — the heavy
  lifting is the two revenue rollups).
- **Embedding outliers** (`e_embedding_outliers`) — top-10 vectors
  by diagonal-covariance Mahalanobis distance: per-dimension
  means/variances via posexplode (one shuffle on the dim index,
  broadcast back), then a row-local standardized L2.  The
  embedding-QA screen run before ANN indexing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# a_anova_oneway
# ------------------------------------------------------------------ #


def a_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of c_acctbal across nations: SSB, SSW, F."""
    cust = load_table(spark, sf_dir, "customer")
    # r9-opt (guide §2.4): g feeds the grand totals and the
    # between-group pass; unstaged, the customer rollup re-ran per
    # consumer (2 duplicate scans).  25-row staged frame.
    g = _stage(
        cust.groupBy("c_nationkey").agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(27,6)")).alias("s"),
            F.sum(
                (F.col("c_acctbal") * F.col("c_acctbal")).cast(
                    "decimal(38,10)"
                )
            ).alias("ss"),
        )
    )
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("N"),
        F.sum("s").alias("S"),
        F.sum("ss").alias("SS"),
    ).select(
        "k",
        "N",
        F.col("S").cast("double").alias("S"),
        F.col("SS").cast("double").alias("SS"),
    )
    # SSB = sum(s_i^2 / n_i) - S^2/N ; SSW = SS - sum(s_i^2 / n_i)
    per = g.select(
        (
            (F.col("s").cast("double") * F.col("s").cast("double"))
            / F.col("n")
        ).cast("decimal(38,10)").alias("s2n")
    ).agg(F.sum("s2n").cast("double").alias("sum_s2n"))
    j = tot.crossJoin(F.broadcast(per))
    ssb = F.col("sum_s2n") - F.col("S") * F.col("S") / F.col("N")
    ssw = F.col("SS") - F.col("sum_s2n")
    dfb = (F.col("k") - 1).cast("double")
    dfw = (F.col("N") - F.col("k")).cast("double")
    return j.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("N").cast("long").alias("n_total"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round((ssb / dfb) / (ssw / dfw), 6).alias("f_stat"),
    )


A_ANOVA_SQL = """
WITH g AS (
  SELECT c_nationkey, COUNT(*) AS n,
    SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS s,
    SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,10))) AS ss
  FROM customer GROUP BY c_nationkey
),
tot AS (
  SELECT COUNT(*) AS k, SUM(n) AS N,
    CAST(SUM(s) AS DOUBLE) AS S, CAST(SUM(ss) AS DOUBLE) AS SS
  FROM g
),
per AS (
  SELECT CAST(SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n
                       AS DECIMAL(38,10))) AS DOUBLE) AS sum_s2n
  FROM g
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(N AS BIGINT) AS n_total,
  ROUND(sum_s2n - S * S / N, 4) AS ss_between,
  ROUND(SS - sum_s2n, 4) AS ss_within,
  ROUND(((sum_s2n - S * S / N) / CAST(k - 1 AS DOUBLE))
        / ((SS - sum_s2n) / CAST(N - k AS DOUBLE)), 6) AS f_stat
FROM tot CROSS JOIN per
"""


# ------------------------------------------------------------------ #
# a_kendall_tau
# ------------------------------------------------------------------ #


def a_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a between early and late nation revenue ranks."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                F.when(
                    F.year("o_orderdate") < 1998,
                    F.col("o_totalprice").cast("decimal(27,2)"),
                ).otherwise(F.lit(0).cast("decimal(27,2)"))
            ).alias("early"),
            F.sum(
                F.when(
                    F.year("o_orderdate") >= 1998,
                    F.col("o_totalprice").cast("decimal(27,2)"),
                ).otherwise(F.lit(0).cast("decimal(27,2)"))
            ).alias("late"),
        )
    )
    # r9-opt (guide §2.4): ranked feeds both sides of the pair
    # self-join; unstaged, the orders⋈customer rollup re-ran per side
    # (2 duplicate scans).  25-row staged frame.
    ranked = _stage(
        rev.select(
            "c_nationkey",
            F.row_number()
            .over(Window.orderBy(F.desc("early"), "c_nationkey"))
            .alias("re"),
            F.row_number()
            .over(Window.orderBy(F.desc("late"), "c_nationkey"))
            .alias("rl"),
        )
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = a.join(
        b, F.col("a.c_nationkey") < F.col("b.c_nationkey")
    ).select(
        (
            (F.col("a.re") < F.col("b.re"))
            == (F.col("a.rl") < F.col("b.rl"))
        )
        .cast("long")
        .alias("concordant")
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("concordant").alias("n_concordant"),
        F.round(
            (F.sum("concordant") * 2 - F.count("*")).cast("double")
            / F.count("*"),
            6,
        ).alias("kendall_tau"),
    )


A_KENDALL_SQL = """
WITH rev AS (
  SELECT c_nationkey,
    SUM(CASE WHEN year(o_orderdate) < 1998
        THEN CAST(o_totalprice AS DECIMAL(27,2))
        ELSE CAST(0 AS DECIMAL(27,2)) END) AS early,
    SUM(CASE WHEN year(o_orderdate) >= 1998
        THEN CAST(o_totalprice AS DECIMAL(27,2))
        ELSE CAST(0 AS DECIMAL(27,2)) END) AS late
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey
),
ranked AS (
  SELECT c_nationkey,
    ROW_NUMBER() OVER (ORDER BY early DESC, c_nationkey) AS re,
    ROW_NUMBER() OVER (ORDER BY late DESC, c_nationkey) AS rl
  FROM rev
),
pairs AS (
  SELECT CASE WHEN (a.re < b.re) = (a.rl < b.rl) THEN 1 ELSE 0 END
    AS concordant
  FROM ranked a JOIN ranked b ON a.c_nationkey < b.c_nationkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(concordant) AS BIGINT) AS n_concordant,
  ROUND(CAST(SUM(concordant) * 2 - COUNT(*) AS DOUBLE) / COUNT(*), 6)
    AS kendall_tau
FROM pairs
"""


# ------------------------------------------------------------------ #
# e_embedding_outliers
# ------------------------------------------------------------------ #


def e_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 vectors by diagonal-covariance Mahalanobis distance."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("d", "x")
    ).select("vec_id", "d", F.col("x").cast("double").alias("x"))
    stats = dims.groupBy("d").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(27,10)")).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).alias("sxx"),
    ).select(
        "d",
        (F.col("sx") / F.col("n")).cast("double").alias("mu"),
        (
            F.col("sxx").cast("double") / F.col("n")
            - ((F.col("sx") / F.col("n")).cast("double"))
            * ((F.col("sx") / F.col("n")).cast("double"))
        ).alias("var"),
    )
    z2 = (
        dims.join(F.broadcast(stats), "d")
        .select(
            "vec_id",
            (
                (F.col("x") - F.col("mu"))
                * (F.col("x") - F.col("mu"))
                / F.col("var")
            ).cast("decimal(38,12)").alias("t"),
        )
        .groupBy("vec_id")
        .agg(F.sum("t").cast("double").alias("m2"))
    )
    return (
        z2.select("vec_id", F.round(F.sqrt(F.col("m2")), 6).alias("mdist"))
        .orderBy(F.desc("mdist"), "vec_id")
        .limit(10)
    )


E_OUTLIER_SQL = """
WITH dims AS (
  SELECT vec_id, d - 1 AS d, CAST(x AS DOUBLE) AS x
  FROM (
    SELECT vec_id, unnest(embedding) AS x,
      generate_subscripts(embedding, 1) AS d
    FROM embeddings
  )
),
stats AS (
  SELECT d,
    CAST(SUM(CAST(x AS DECIMAL(27,10))) / COUNT(*) AS DOUBLE) AS mu,
    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
      - CAST(SUM(CAST(x AS DECIMAL(27,10))) / COUNT(*) AS DOUBLE)
        * CAST(SUM(CAST(x AS DECIMAL(27,10))) / COUNT(*) AS DOUBLE)
      AS var
  FROM dims GROUP BY d
),
z2 AS (
  SELECT vec_id,
    CAST(SUM(CAST((x - mu) * (x - mu) / var AS DECIMAL(38,12)))
         AS DOUBLE) AS m2
  FROM dims JOIN stats USING (d)
  GROUP BY vec_id
)
SELECT vec_id, ROUND(sqrt(m2), 6) AS mdist
FROM z2 ORDER BY mdist DESC, vec_id LIMIT 10
"""


SPECS = [
    QuerySpec(
        "a_anova_oneway",
        a_anova_oneway,
        A_ANOVA_SQL,
        doc="one-way ANOVA F of acctbal across nations (decimal moments)",
        tags=("stats",),
    ),
    QuerySpec(
        "a_kendall_tau",
        a_kendall_tau,
        A_KENDALL_SQL,
        doc="Kendall tau-a of nation revenue ranks, early vs late era",
        tags=("stats", "bi"),
    ),
    QuerySpec(
        "e_embedding_outliers",
        e_embedding_outliers,
        E_OUTLIER_SQL,
        doc="top-10 diagonal-Mahalanobis embedding outliers",
        tags=("embedding", "quality"),
    ),
]
