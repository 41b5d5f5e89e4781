"""Eighty-third wave: split decontamination, Borda rank aggregation,
and the Theil index.

Reference parity note: train/test hygiene + multi-metric ranking +
entropy inequality; every query carries an exact DuckDB oracle.

- **Decontaminate split** (`s_decontaminate_split`) — the eval-
  hygiene op: split documents 90/10 by md5 hash, then REMOVE from
  the train split every document sharing any 8-gram shingle with
  the test split (span-level decontamination a la the dedup
  literature).  The overlap test is one semi-join on the shingle —
  never a doc x doc product.  Reports per-language train sizes
  before/after and the removal count.
- **Borda ranking** (`a_borda_ranking`) — rank aggregation across
  three nation leaderboards (revenue, customer count, mean
  balance): Borda score = sum of per-metric ranks, lower = better;
  top 10 consensus nations.  The multi-criteria league table.
- **Theil index** (`a_theil_index`) — the entropy inequality measure
  T = mean((x/mu) ln(x/mu)) over positive balances, completing the
  inequality family (Gini wave21, Lorenz wave27, Atkinson wave66).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.dedup import token_shingles_expr
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# s_decontaminate_split
# ------------------------------------------------------------------ #


def s_decontaminate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/10 hash split; train docs sharing an 8-gram with test are
    dropped.  Per-language accounting."""
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
        "doc_id",
        "lang",
        "text",
        (u < 0.1).alias("is_test"),
        toks.alias("ws"),
    )
    # shared regex-scan shingler; >=8-token filter keeps its
    # whole-text fallback from ever firing
    # r9-opt (guide §2.4): sh feeds the test-shingle vocabulary and
    # the train contamination probe; unstaged, the corpus scan +
    # shingle explode re-ran per consumer.  The train accounting leg
    # keeps its own column-pruned (doc_id, lang) scan — staging raw
    # text to merge it would materialize the whole corpus.
    from idn_area_etl_spark.operators.stage import _stage

    sh = _stage(
        base.filter(F.size("ws") >= 8).select(
            "doc_id",
            "is_test",
            F.explode(token_shingles_expr("text", 8)).alias("s"),
        )
    )
    test_shingles = sh.filter(F.col("is_test")).select("s").distinct()
    contaminated = (
        sh.filter(~F.col("is_test"))
        .join(test_shingles, "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = base.filter(~F.col("is_test")).select("doc_id", "lang")
    flagged = train.join(
        contaminated.withColumn("dirty", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_train_before"),
            F.sum(F.coalesce("dirty", F.lit(0))).alias("n_removed"),
            (
                F.count("*") - F.sum(F.coalesce("dirty", F.lit(0)))
            ).alias("n_train_after"),
        )
        .orderBy("lang")
    )


S_DECON_SQL = r"""
WITH base AS (
  SELECT doc_id, lang,
    CAST(('0x' || substring(md5('split:' ||
        CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT)
      / 4503599627370496.0 < 0.1 AS is_test,
    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x <> '') AS ws
  FROM documents
),
sh AS (
  SELECT doc_id, is_test,
    unnest(list_distinct([array_to_string(ws[i:i+7], ' ')
      for i in generate_series(1, len(ws) - 7)])) AS s
  FROM base WHERE len(ws) >= 8
),
test_shingles AS (
  SELECT DISTINCT s FROM sh WHERE is_test
),
contaminated AS (
  SELECT DISTINCT doc_id FROM sh
  SEMI JOIN test_shingles USING (s)
  WHERE NOT is_test
),
train AS (SELECT doc_id, lang FROM base WHERE NOT is_test)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_train_before,
  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_removed,
  CAST(COUNT(*) - SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0
       END) AS BIGINT) AS n_train_after
FROM train LEFT JOIN contaminated c ON train.doc_id = c.doc_id
GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------------ #
# a_borda_ranking
# ------------------------------------------------------------------ #


def a_borda_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda consensus of three nation leaderboards (revenue,
    customers, mean balance); top 10."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias(
                "rev"
            )
        )
    )
    cstats = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n_cust"),
        (
            F.sum(F.col("c_acctbal").cast("decimal(27,6)"))
            / F.count("*")
        ).alias("mean_bal"),
    )
    base = rev.join(cstats, "c_nationkey")
    ranked = base.select(
        "c_nationkey",
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), "c_nationkey"))
        .alias("r_rev"),
        F.row_number()
        .over(Window.orderBy(F.desc("n_cust"), "c_nationkey"))
        .alias("r_cust"),
        F.row_number()
        .over(Window.orderBy(F.desc("mean_bal"), "c_nationkey"))
        .alias("r_bal"),
    )
    return (
        ranked.select(
            "c_nationkey",
            "r_rev",
            "r_cust",
            "r_bal",
            (F.col("r_rev") + F.col("r_cust") + F.col("r_bal")).alias(
                "borda"
            ),
        )
        .withColumn(
            "consensus_rank",
            F.row_number().over(
                Window.orderBy("borda", "c_nationkey")
            ).cast("int"),
        )
        .filter(F.col("consensus_rank") <= 10)
        .orderBy("consensus_rank")
    )


A_BORDA_SQL = """
WITH rev AS (
  SELECT c_nationkey,
    SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey
),
cstats AS (
  SELECT c_nationkey, COUNT(*) AS n_cust,
    SUM(CAST(c_acctbal AS DECIMAL(27,6))) / COUNT(*) AS mean_bal
  FROM customer GROUP BY c_nationkey
),
ranked AS (
  SELECT r.c_nationkey,
    ROW_NUMBER() OVER (ORDER BY rev DESC, r.c_nationkey) AS r_rev,
    ROW_NUMBER() OVER (ORDER BY n_cust DESC, r.c_nationkey)
      AS r_cust,
    ROW_NUMBER() OVER (ORDER BY mean_bal DESC, r.c_nationkey)
      AS r_bal
  FROM rev r JOIN cstats USING (c_nationkey)
)
SELECT c_nationkey, CAST(r_rev AS BIGINT) AS r_rev,
  CAST(r_cust AS BIGINT) AS r_cust, CAST(r_bal AS BIGINT) AS r_bal,
  CAST(r_rev + r_cust + r_bal AS BIGINT) AS borda,
  CAST(ROW_NUMBER() OVER (ORDER BY r_rev + r_cust + r_bal,
       c_nationkey) AS INT) AS consensus_rank
FROM ranked
QUALIFY consensus_rank <= 10
ORDER BY consensus_rank
"""


# ------------------------------------------------------------------ #
# a_theil_index
# ------------------------------------------------------------------ #


def a_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of positive customer balances."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 0
    )
    stats = cust.agg(
        F.count("*").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(27,6)")).alias("s"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    terms = cust.crossJoin(F.broadcast(stats)).select(
        (
            (F.col("c_acctbal") / mu)
            * F.log(F.col("c_acctbal") / mu)
        ).cast("decimal(27,12)").alias("t")
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(
            (F.sum("t") / F.count("*")).cast("double"), 6
        ).alias("theil_t"),
    )


A_THEIL_SQL = """
WITH stats AS (
  SELECT COUNT(*) AS n,
    SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS s
  FROM customer WHERE c_acctbal > 0
),
terms AS (
  SELECT CAST((c_acctbal / (CAST(s AS DOUBLE) / n))
      * ln(c_acctbal / (CAST(s AS DOUBLE) / n))
    AS DECIMAL(27,12)) AS t
  FROM customer CROSS JOIN stats
  WHERE c_acctbal > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
  ROUND(CAST(SUM(t) / COUNT(*) AS DOUBLE), 6) AS theil_t
FROM terms
"""


SPECS = [
    QuerySpec(
        "s_decontaminate_split",
        s_decontaminate_split,
        S_DECON_SQL,
        doc="remove train docs sharing 8-grams with the hash test split",
        tags=("dedup", "dataset-prep", "ml-eval"),
    ),
    QuerySpec(
        "a_borda_ranking",
        a_borda_ranking,
        A_BORDA_SQL,
        doc="Borda consensus of three nation leaderboards (top 10)",
        tags=("bi", "stats"),
    ),
    QuerySpec(
        "a_theil_index",
        a_theil_index,
        A_THEIL_SQL,
        doc="Theil T entropy inequality of positive balances",
        tags=("stats",),
    ),
]
