"""Twenty-fifth wave: cumulative-distinct growth, PMI collocations,
largest-remainder allocation, series autocorrelation, k-core peeling.

Reference parity note: the reference has no aggregation surface beyond
first-seen dedup (SURVEY.md §2.4); these extend the engine-native
analytics axis the same way earlier waves did, each with an exact
DuckDB oracle.

- **Cumulative distinct users** (`q_cumulative_distinct_users`) —
  daily new-user and running-distinct-user counts WITHOUT the naive
  O(days × users) re-scan: each user collapses to a first-seen day
  (one partial-aggregated shuffle on ``user_id``), then the running
  total is a window over the tiny day-level rollup.  At 100 TB the
  only heavy exchange is the user-keyed min — map-side combinable.
- **PMI collocations** (`a_pmi_bigrams`) — top word pairs by
  pointwise mutual information.  Token/bigram generation is row-local
  (zip with tail); unigram and bigram counts are two map-side
  combinable aggs; corpus totals ride a 1-row broadcast; the
  bigram→unigram probability join is an equi-join on the word.  PMI
  itself is a single per-row double expression (deterministic IEEE).
- **Largest-remainder allocation** (`q_prorata_allocation`) —
  Hamilton apportionment of a fixed unit budget across nations,
  proportional to exact decimal revenue.  All arithmetic is integer
  (cents → ``div`` / ``%``), so Spark and DuckDB agree bit-for-bit —
  no float quota anywhere.  The allocation invariant Σunits == budget
  is pinned in pytest.
- **Series autocorrelation** (`q_acf_revenue`) — lag-1..7 ACF of the
  daily revenue series.  Per-row products stay double (identical
  IEEE), sums go through decimal casts (exact, order-independent),
  the Pearson formula is evaluated once in double per lag.  The
  series itself is a tiny day-level rollup: the window/lag work never
  touches fact-table scale.
- **k-core peeling** (`g_kcore_parts`) — 3 fixed peel rounds toward
  the K-core of the co-order part graph (same edge set as
  `g_triangle_parts`): drop nodes with degree < K, drop incident
  edges, repeat.  Bounded iteration (like `g_pagerank_trade`) keeps
  the plan static and oracle-expressible as unrolled CTEs; each round
  is one degree agg + two semi joins keyed on the endpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _round, _stage
from idn_area_etl_spark.operators.text import tokens_expr
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# q_cumulative_distinct_users
# ------------------------------------------------------------------ #


def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new users + running distinct-user total over events."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    daily = first_seen.groupBy(
        F.to_date("first_ts").alias("day")
    ).agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


Q_CUMDISTINCT_SQL = """
WITH fs AS (
  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
),
daily AS (
  SELECT CAST(first_ts AS DATE) AS day, COUNT(*) AS new_users
  FROM fs GROUP BY 1
)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
  CAST(SUM(new_users) OVER (
    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS cum_users
FROM daily ORDER BY day
"""


# ------------------------------------------------------------------ #
# a_pmi_bigrams
# ------------------------------------------------------------------ #

PMI_MIN_COUNT = 5
PMI_TOP_K = 30


def a_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by pointwise mutual information."""
    docs = load_table(spark, sf_dir, "documents")
    # r8-opt: the tokenized corpus feeds three consumers (bigram
    # explode, unigram counts, corpus totals) — unstaged, each re-ran
    # the documents scan + regex tokenization (4 scans / 22 exchange
    # refs in the captured plan); staged, the corpus is scanned and
    # tokenized once (guide §2.4).
    toks = _stage(docs.select(tokens_expr(F.col("text")).alias("t")))
    n_bg = F.greatest(F.lit(0), F.size("t") - F.lit(1))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, n_bg),
                F.slice("t", 2, n_bg),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    bg_counts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("cxy"))
        .filter(F.col("cxy") >= PMI_MIN_COUNT)
    )
    totals = toks.agg(
        F.sum(F.size("t")).alias("n_uni"),
        F.sum(n_bg).alias("n_bg"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    joined = (
        bg_counts.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("cxy").cast("double") / F.col("n_bg").cast("double"))
        / (
            (F.col("c1").cast("double") / F.col("n_uni").cast("double"))
            * (F.col("c2").cast("double") / F.col("n_uni").cast("double"))
        )
    )
    return (
        joined.select(
            F.concat("w1", F.lit(" "), "w2").alias("bigram"),
            "cxy",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(PMI_TOP_K)
    )


A_PMI_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
ucnt AS (
  SELECT w, COUNT(*) AS cw FROM uni GROUP BY w
),
bg AS (
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks
),
bcnt AS (
  SELECT w1, w2, COUNT(*) AS cxy FROM bg GROUP BY w1, w2
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
tot AS (
  SELECT SUM(len(t)) AS n_uni,
         SUM(greatest(len(t) - 1, 0)) AS n_bg
  FROM toks
)
SELECT b.w1 || ' ' || b.w2 AS bigram,
  CAST(b.cxy AS BIGINT) AS cxy,
  ROUND(LN((CAST(b.cxy AS DOUBLE) / CAST(t.n_bg AS DOUBLE))
           / ((CAST(u1.cw AS DOUBLE) / CAST(t.n_uni AS DOUBLE))
              * (CAST(u2.cw AS DOUBLE) / CAST(t.n_uni AS DOUBLE)))),
        6) AS pmi
FROM bcnt b
JOIN ucnt u1 ON b.w1 = u1.w
JOIN ucnt u2 ON b.w2 = u2.w
CROSS JOIN tot t
ORDER BY pmi DESC, bigram
LIMIT {PMI_TOP_K}
"""


# ------------------------------------------------------------------ #
# q_prorata_allocation
# ------------------------------------------------------------------ #

ALLOC_UNITS = 10000


def q_prorata_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of ALLOC_UNITS
    across nations, proportional to revenue — pure integer math."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(rev.cast("decimal(24,6)")).alias("rev_dec"))
    )
    w_all = Window.partitionBy()
    staged = (
        base.select(
            "n_name",
            "rev_dec",
            F.floor(F.col("rev_dec") * 100).cast("long").alias("cents"),
        )
        .withColumn("total_cents", F.sum("cents").over(w_all))
        .withColumn("units_num", F.col("cents") * F.lit(ALLOC_UNITS))
        .withColumn("base_units", F.expr("units_num div total_cents"))
        .withColumn("rem", F.col("units_num") % F.col("total_cents"))
    )
    ranked = staged.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "n_name")),
    ).withColumn("base_sum", F.sum("base_units").over(w_all))
    return ranked.select(
        "n_name",
        F.round(F.col("rev_dec").cast("double"), 4).alias("revenue"),
        (
            F.col("base_units")
            + F.when(
                F.col("rk") <= F.lit(ALLOC_UNITS) - F.col("base_sum"), 1
            ).otherwise(0)
        ).cast("long").alias("units"),
    ).orderBy("n_name")


Q_PRORATA_SQL = f"""
WITH rev AS (
  SELECT n_name,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6)))
      AS rev_dec
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
),
staged AS (
  SELECT n_name, rev_dec,
    CAST(FLOOR(rev_dec * 100) AS BIGINT) AS cents
  FROM rev
),
t AS (
  SELECT *, CAST(SUM(cents) OVER () AS BIGINT) AS total_cents,
    CAST(cents * {ALLOC_UNITS} AS BIGINT) AS units_num
  FROM staged
),
b AS (
  SELECT *, units_num // total_cents AS base_units,
    units_num % total_cents AS rem
  FROM t
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rk,
    CAST(SUM(base_units) OVER () AS BIGINT) AS base_sum
  FROM b
)
SELECT n_name, ROUND(CAST(rev_dec AS DOUBLE), 4) AS revenue,
  CAST(base_units
       + CASE WHEN rk <= {ALLOC_UNITS} - base_sum THEN 1 ELSE 0 END
    AS BIGINT) AS units
FROM r ORDER BY n_name
"""


# ------------------------------------------------------------------ #
# q_acf_revenue
# ------------------------------------------------------------------ #

ACF_MAX_LAG = 7


def q_acf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily lineitem revenue series
    (exact decimal power sums → deterministic Pearson per lag)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    daily = (
        li.groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(
            F.round(
                F.sum(rev.cast("decimal(24,6)")).cast("double"), 6
            ).alias("x")
        )
    )
    w = Window.orderBy("day")
    wide = daily.select(
        "x",
        *[
            F.lag("x", k).over(w).alias(f"lag{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stack_args = ", ".join(
        f"{k}, lag{k}" for k in range(1, ACF_MAX_LAG + 1)
    )
    pairs = wide.select(
        "x",
        F.expr(f"stack({ACF_MAX_LAG}, {stack_args}) AS (lag, y)"),
    ).filter(F.col("y").isNotNull())
    sums = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(24,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(24,6)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(32,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(32,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(32,6)"))
        .cast("double")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    acf = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        F.col("lag").cast("int").alias("lag"),
        "n",
        F.round(acf, 6).alias("acf"),
    ).orderBy("lag")


def _acf_sql() -> str:
    lag_blocks = " UNION ALL ".join(
        f"SELECT {k} AS lag, x, lag{k} AS y FROM wide"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    lag_cols = ", ".join(
        f"LAG(x, {k}) OVER (ORDER BY day) AS lag{k}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
    ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(24,6))) AS DOUBLE), 6) AS x
  FROM lineitem GROUP BY 1
),
wide AS (
  SELECT x, {lag_cols} FROM daily
),
pairs AS (
  SELECT * FROM ({lag_blocks}) WHERE y IS NOT NULL
),
sums AS (
  SELECT lag, COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(24,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * y AS DECIMAL(32,6))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x * x AS DECIMAL(32,6))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(y * y AS DECIMAL(32,6))) AS DOUBLE) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
               * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS acf
FROM sums ORDER BY lag
"""


# ------------------------------------------------------------------ #
# g_kcore_parts
# ------------------------------------------------------------------ #

KCORE_K = 4
KCORE_ROUNDS = 3
KCORE_MIN_SHARED = 2


def _coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (a<b) part pairs co-ordered in ≥2 distinct orders —
    the same edge definition `g_triangle_parts` uses."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("b"))
    return (
        a.join(b, "ok")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= KCORE_MIN_SHARED)
        .select("a", "b")
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round peel toward the k-core: each round drops nodes of
    degree < k and their incident edges.  Returns (part, degree) over
    the surviving edge set.

    Bounded-iteration graph op in the style of
    `operators/graph.py:pagerank` — every round is one
    map-side-combinable degree agg plus two semi joins on the
    endpoints.  A checkpoint per round truncates the lineage:
    each round references the surviving edge set three times (degree
    agg reads it twice, the semi joins once more), so threading it
    through as raw lineage triples the plan per round (3^rounds —
    measured 1.3 MB of physical plan at rounds=3).
    """
    e, cut = edges, None
    for _ in range(rounds):
        # truncate the previous round's lineage at the START of the
        # round, so each job plans exactly one round of joins over a
        # checkpoint scan (and the returned plan keeps the last
        # round's semi joins visible for the plan-shape gate)
        cut, _ = _round(e, prev=cut)
        deg = (
            cut.select(F.col("a").alias("node"))
            .unionAll(cut.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = cut.join(
            keep.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
    return (
        e.select(F.col("a").alias("part"))
        .unionAll(e.select(F.col("b").alias("part")))
        .groupBy("part")
        .agg(F.count("*").alias("degree"))
    )


def g_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _coorder_edges(spark, sf_dir)
    return kcore_peel(edges, KCORE_K, KCORE_ROUNDS).orderBy(
        F.col("degree").desc(), "part"
    )


def _kcore_sql() -> str:
    parts = [
        f"""
op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
e0 AS (
  SELECT a.p AS a, b.p AS b FROM op a JOIN op b USING (ok)
  WHERE a.p < b.p GROUP BY 1, 2
  HAVING COUNT(*) >= {KCORE_MIN_SHARED}
)"""
    ]
    for i in range(KCORE_ROUNDS):
        parts.append(
            f"""
d{i} AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i}
  ) GROUP BY node
),
k{i} AS (SELECT node FROM d{i} WHERE deg >= {KCORE_K}),
e{i + 1} AS (
  SELECT a, b FROM e{i}
  WHERE a IN (SELECT node FROM k{i})
    AND b IN (SELECT node FROM k{i})
)"""
        )
    last = f"e{KCORE_ROUNDS}"
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT part, CAST(COUNT(*) AS BIGINT) AS degree FROM (
  SELECT a AS part FROM {last} UNION ALL SELECT b FROM {last}
) GROUP BY part
ORDER BY degree DESC, part
"""
    )


SPECS = [
    QuerySpec(
        "q_cumulative_distinct_users",
        q_cumulative_distinct_users,
        Q_CUMDISTINCT_SQL,
        doc="daily new + running distinct users (first-seen rollup)",
        tags=("window", "events"),
    ),
    QuerySpec(
        "a_pmi_bigrams",
        a_pmi_bigrams,
        A_PMI_SQL,
        doc="top bigram collocations by pointwise mutual information",
        tags=("text", "nlp"),
    ),
    QuerySpec(
        "q_prorata_allocation",
        q_prorata_allocation,
        Q_PRORATA_SQL,
        doc="largest-remainder integer apportionment by revenue",
        tags=("analytics",),
    ),
    QuerySpec(
        "q_acf_revenue",
        q_acf_revenue,
        _acf_sql(),
        doc="lag-1..7 autocorrelation of daily revenue",
        tags=("timeseries", "stats"),
    ),
    QuerySpec(
        "g_kcore_parts",
        g_kcore_parts,
        _kcore_sql(),
        doc="3-round k-core peel of the co-order part graph",
        tags=("graph",),
    ),
]
