"""Thirtieth wave: universal quantification, embedding feature
variance, MRL prefix ANN, weekly new-vs-returning, and grid-density
clustering (DBSCAN-lite).

Reference parity note: engine-native analytics + embedding ops (the
reference has no joins/aggregations, SURVEY.md §2.3-2.4); every
query carries an exact DuckDB oracle.

- **Loyal customers** (`q_loyal_customers`) — relational FORALL:
  customers with ≥2 orders where EVERY order beats their nation's
  mean order value.  Universal quantification compiles to
  conditional counts in ONE grouped pass (violations == 0), not a
  correlated per-row subquery; the nation means ride a broadcast.
- **Dimension variance** (`a_dim_variance`) — top-10 embedding
  dimensions by variance (feature-selection screen): posexplode →
  per-dimension exact decimal power sums → single-expression
  variance.  One shuffle keyed by dimension, 64 groups.
- **MRL prefix ANN** (`e_mrl_prefix_topk`) — matryoshka-style
  two-stage search: stage 1 ranks by cosine over the FIRST 16
  dimensions (cheap prefix — 4× less vector I/O), stage 2 re-ranks
  the shortlist with full 64-dim cosine.  Same ADC+R shape as the
  PQ pipeline (`operators/pq.py`), with the prefix slice playing
  the compressed code.  Exact oracle replicates both stages;
  pytest pins recall vs the exact full-dim top-k.
- **New vs returning** (`q_new_vs_returning`) — per ISO week:
  active users, first-ever users, returning = active − new.  Two
  map-side-combinable aggs (user-week distinct, user first-week),
  joined on the tiny week rollup.
- **Grid-density clusters** (`g_grid_density_clusters`) —
  DBSCAN-lite over md5-scattered customer points: 10° cells with
  ≥ MIN_PTS points are core; adjacent (8-neighborhood) core cells
  merge via connected components (`operators/graph.py` — hash-min
  + pointer jumping); clusters report cell/point counts.  The
  density pass is one cell-keyed agg; the CC runs on the tiny core-
  cell graph.  Oracle: WITH RECURSIVE reachability (wave-6 idiom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.graph import connected_components
from idn_area_etl_spark.operators.sketch import md5_bucket
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# q_loyal_customers
# ------------------------------------------------------------------ #

LOYAL_MIN_ORDERS = 2


def q_loyal_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥2 orders, ALL above their nation's mean order
    value (FORALL via zero-violation conditional counts)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # r9-opt (guide §2.4): oc feeds both the nation-mean rollup and
    # the per-customer aggregate; unstaged, the orders⋈customer join
    # re-ran per consumer (3 duplicate scans).  Staged projection of
    # exactly the columns both consumers read — values unchanged.
    oc = _stage(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_custkey", "o_totalprice", "n_name")
    )
    nat_mean = oc.groupBy("n_name").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(24,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("nat_mean")
    )
    flagged = oc.join(F.broadcast(nat_mean), "n_name").groupBy(
        "o_custkey", "n_name"
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(
            (F.col("o_totalprice") <= F.col("nat_mean")).cast("long")
        ).alias("n_violations"),
        F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
        .cast("double")
        .alias("total_spend"),
    )
    return (
        flagged.filter(
            (F.col("n_orders") >= LOYAL_MIN_ORDERS)
            & (F.col("n_violations") == 0)
        )
        .select("o_custkey", "n_name", "n_orders", "total_spend")
        .orderBy("o_custkey")
    )


Q_LOYAL_SQL = f"""
WITH oc AS (
  SELECT o.o_custkey, o.o_totalprice, n.n_name
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
nat_mean AS (
  SELECT n_name,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS nat_mean
  FROM oc GROUP BY n_name
),
flagged AS (
  SELECT oc.o_custkey, oc.n_name, COUNT(*) AS n_orders,
    SUM(CASE WHEN oc.o_totalprice <= m.nat_mean THEN 1 ELSE 0 END)
      AS n_violations,
    CAST(SUM(CAST(oc.o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
      AS total_spend
  FROM oc JOIN nat_mean m USING (n_name)
  GROUP BY oc.o_custkey, oc.n_name
)
SELECT o_custkey, n_name, CAST(n_orders AS BIGINT) AS n_orders,
  total_spend
FROM flagged
WHERE n_orders >= {LOYAL_MIN_ORDERS} AND n_violations = 0
ORDER BY o_custkey
"""


# ------------------------------------------------------------------ #
# a_dim_variance
# ------------------------------------------------------------------ #

DIMVAR_TOP_K = 10


def a_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 embedding dimensions by variance (feature screen)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select("dim", F.col("v").cast("double").alias("v"))
    sums = exploded.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(32,14)")).cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(32,14)"))
        .cast("double")
        .alias("s2"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s1") / nd
    var = F.col("s2") / nd - m * m
    return (
        sums.select(
            F.col("dim").cast("int").alias("dim"),
            F.round(m, 6).alias("mean"),
            F.round(var, 6).alias("variance"),
        )
        .orderBy(F.col("variance").desc(), "dim")
        .limit(DIMVAR_TOP_K)
    )


A_DIMVAR_SQL = f"""
WITH e AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
    CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
sums AS (
  SELECT dim, COUNT(*) AS n,
    CAST(SUM(CAST(v AS DECIMAL(32,14))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(v * v AS DECIMAL(32,14))) AS DOUBLE) AS s2
  FROM e GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim,
  ROUND(s1 / n, 6) AS mean,
  ROUND(s2 / n - (s1 / n) * (s1 / n), 6) AS variance
FROM sums
ORDER BY variance DESC, dim
LIMIT {DIMVAR_TOP_K}
"""


# ------------------------------------------------------------------ #
# e_mrl_prefix_topk
# ------------------------------------------------------------------ #

MRL_PREFIX_DIMS = 16
MRL_SHORTLIST = 100
MRL_TOP_K = 5
MRL_N_QUERIES = 10


def e_mrl_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage ANN: prefix-dim cosine shortlist → exact
    full-dim re-rank (ADC+R with the prefix as the cheap code)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    with_norms = emb.select(
        "vec_id",
        "vec",
        F.slice("vec", 1, MRL_PREFIX_DIMS).alias("pvec"),
        F.sqrt(
            F.aggregate(
                "vec", F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("nrm"),
        F.sqrt(
            F.aggregate(
                F.slice("vec", 1, MRL_PREFIX_DIMS),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ).alias("pnrm"),
    )
    q = with_norms.filter(F.col("vec_id") < MRL_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("pvec").alias("qpvec"),
        F.col("nrm").alias("qnrm"),
        F.col("pnrm").alias("qpnrm"),
    )
    cand = with_norms.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    pdot = F.aggregate(
        F.zip_with("pvec", "qpvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pcos = F.round(pdot / (F.col("pnrm") * F.col("qpnrm")), 6)
    from idn_area_etl_spark.operators.ranks import grouped_topk

    # two-phase salted top-k (r6): the prefix-scored stage ranks one
    # row per corpus vector per query — never one window task's worth
    shortlist = grouped_topk(
        cand.select(
            "query_id", "vec_id", "vec", "nrm", "qvec", "qnrm",
            pcos.alias("pcos"),
        ),
        ["query_id"],
        [F.desc("pcos"), F.col("vec_id")],
        MRL_SHORTLIST,
        salt_key=F.col("vec_id"),
        out="prnk",
    )
    fdot = F.aggregate(
        F.zip_with("vec", "qvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    fcos = F.round(fdot / (F.col("nrm") * F.col("qnrm")), 6)
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    return (
        shortlist.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fcos.alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w_final))
        .filter(F.col("rnk") <= MRL_TOP_K)
        .select("query_id", "neighbor_id", "cosine", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


E_MRL_SQL = f"""
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vec
  FROM embeddings
),
norms AS (
  SELECT vec_id, vec, vec[1:{MRL_PREFIX_DIMS}] AS pvec,
    sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm,
    sqrt(list_sum(list_transform(vec[1:{MRL_PREFIX_DIMS}],
                                 x -> x * x))) AS pnrm
  FROM v
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id, c.vec, c.nrm,
    q.vec AS qvec, q.nrm AS qnrm,
    ROUND(list_sum(list_transform(
            generate_series(1, {MRL_PREFIX_DIMS}),
            i -> q.pvec[i] * c.pvec[i])) / (c.pnrm * q.pnrm), 6)
      AS pcos
  FROM norms q JOIN norms c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {MRL_N_QUERIES}
),
shortlist AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY pcos DESC, vec_id) AS prnk
    FROM cand
  ) WHERE prnk <= {MRL_SHORTLIST}
),
rescored AS (
  SELECT query_id, vec_id AS neighbor_id,
    ROUND(list_sum(list_transform(generate_series(1, len(vec)),
                   i -> vec[i] * qvec[i])) / (nrm * qnrm), 6) AS cosine
  FROM shortlist
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM rescored
) WHERE rnk <= {MRL_TOP_K}
ORDER BY query_id, rnk
"""


# ------------------------------------------------------------------ #
# q_new_vs_returning
# ------------------------------------------------------------------ #


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly active / new / returning user counts."""
    ev = load_table(spark, sf_dir, "events")
    # r9-opt (guide §2.3/§2.4): both rollups derive from ONE staged
    # distinct (week, user) frame — week truncation is monotonic, so
    # the per-user first week equals the min over the user's distinct
    # weeks.  Unstaged, the events scan ran twice.
    uw = _stage(
        ev.select(
            F.trunc(F.to_date("ts"), "week").alias("week"), "user_id"
        ).distinct()
    )
    weekly = uw.groupBy("week").agg(F.count("*").alias("active_users"))
    first_week = uw.groupBy("user_id").agg(F.min("week").alias("week"))
    new_users = first_week.groupBy("week").agg(
        F.count("*").alias("new_users")
    )
    return (
        weekly.join(new_users, "week", "left")
        .select(
            "week",
            "active_users",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
            (
                F.col("active_users")
                - F.coalesce("new_users", F.lit(0))
            ).alias("returning_users"),
        )
        .orderBy("week")
    )


Q_NEWRET_SQL = """
WITH weekly AS (
  SELECT week, COUNT(*) AS active_users FROM (
    SELECT DISTINCT date_trunc('week', CAST(ts AS DATE)) AS week,
      user_id
    FROM events
  ) GROUP BY week
),
first_week AS (
  SELECT user_id,
    date_trunc('week', MIN(CAST(ts AS DATE))) AS week
  FROM events GROUP BY user_id
),
new_users AS (
  SELECT week, COUNT(*) AS new_users FROM first_week GROUP BY week
)
SELECT w.week, CAST(w.active_users AS BIGINT) AS active_users,
  CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
  CAST(w.active_users - COALESCE(n.new_users, 0) AS BIGINT)
    AS returning_users
FROM weekly w LEFT JOIN new_users n USING (week)
ORDER BY week
"""


# ------------------------------------------------------------------ #
# g_grid_density_clusters
# ------------------------------------------------------------------ #

DENSITY_MIN_PTS = 5
DENSITY_CELL_DEG = 10


def _scatter_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        (
            md5_bucket(F.col("c_custkey"), "glat:", 170_000).cast("double")
            / 1000.0
            - 85.0
        ).alias("lat"),
        (
            md5_bucket(F.col("c_custkey"), "glon:", 360_000).cast("double")
            / 1000.0
            - 180.0
        ).alias("lon"),
    )


def grid_density_clusters(
    pts: DataFrame, cell_deg: int = DENSITY_CELL_DEG,
    min_pts: int = DENSITY_MIN_PTS,
) -> DataFrame:
    """DBSCAN-lite core: ≥min_pts-point grid cells are core; adjacent
    (8-neighborhood) core cells merge via connected components.
    ``pts`` needs (id, lat, lon)."""
    cells = (
        pts.select(
            F.floor(F.col("lon") / cell_deg).cast("long").alias("cx"),
            F.floor(F.col("lat") / cell_deg).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n_pts"))
        .filter(F.col("n_pts") >= min_pts)
    )
    # single integer cell key (coarse cells: cx ∈ [-18,18], cy ∈ [-9,9])
    key = lambda cx, cy: (cy + 9) * 40 + (cx + 18)  # noqa: E731
    keyed = cells.select(
        key(F.col("cx"), F.col("cy")).alias("cell"), "cx", "cy", "n_pts"
    )
    a = keyed.select(
        F.col("cell").alias("src"), "cx", "cy"
    )
    neigh = a.select(
        "src",
        F.explode(
            F.array(*[F.lit(d) for d in (-1, 0, 1)])
        ).alias("dx"),
        "cx",
        "cy",
    ).select(
        "src",
        (F.col("cx") + F.col("dx")).alias("ncx"),
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        "cy",
    ).select(
        "src", "ncx", (F.col("cy") + F.col("dy")).alias("ncy")
    )
    edges = neigh.join(
        keyed.select(
            F.col("cell").alias("dst"),
            F.col("cx").alias("ncx"),
            F.col("cy").alias("ncy"),
        ),
        ["ncx", "ncy"],
    ).filter(F.col("src") < F.col("dst")).select("src", "dst")
    # isolated core cells still form singleton clusters: self-edges
    comp = connected_components(
        edges.unionAll(
            keyed.select(F.col("cell").alias("src"), F.col("cell").alias("dst"))
        )
    )
    joined = keyed.join(
        comp, keyed.cell == comp.node
    ).select("component", "n_pts")
    return (
        joined.groupBy("component")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.col("n_pts").cast("decimal(20,0)"))
            .cast("long")
            .alias("n_points"),
        )
        .orderBy(F.col("n_points").desc(), "component")
    )


def g_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grid_density_clusters(_scatter_points(spark, sf_dir))


G_DENSITY_SQL = f"""
WITH RECURSIVE pts AS (
  SELECT c_custkey AS id,
    CAST(CAST(('0x' || substring(md5('glat:' || CAST(c_custkey AS VARCHAR)),
                                 1, 13)) AS UBIGINT) % 170000 AS DOUBLE)
      / 1000 - 85 AS lat,
    CAST(CAST(('0x' || substring(md5('glon:' || CAST(c_custkey AS VARCHAR)),
                                 1, 13)) AS UBIGINT) % 360000 AS DOUBLE)
      / 1000 - 180 AS lon
  FROM customer
),
cells AS (
  SELECT CAST(FLOOR(lon / {DENSITY_CELL_DEG}) AS BIGINT) AS cx,
    CAST(FLOOR(lat / {DENSITY_CELL_DEG}) AS BIGINT) AS cy,
    COUNT(*) AS n_pts
  FROM pts GROUP BY 1, 2
  HAVING COUNT(*) >= {DENSITY_MIN_PTS}
),
keyed AS (
  SELECT (cy + 9) * 40 + (cx + 18) AS cell, cx, cy, n_pts FROM cells
),
edges AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM keyed a JOIN keyed b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
   AND a.cell < b.cell
),
sym AS (
  SELECT src AS a, dst AS b FROM edges
  UNION SELECT dst, src FROM edges
  UNION SELECT cell, cell FROM keyed
),
reach(node, lab) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT s.a, r.lab FROM sym s JOIN reach r ON s.b = r.node
),
comp AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
)
SELECT c.component, CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(CAST(k.n_pts AS DECIMAL(20,0))) AS BIGINT) AS n_points
FROM keyed k JOIN comp c ON k.cell = c.node
GROUP BY c.component
ORDER BY n_points DESC, component
"""


SPECS = [
    QuerySpec(
        "q_loyal_customers",
        q_loyal_customers,
        Q_LOYAL_SQL,
        doc="FORALL: customers whose every order beats nation mean",
        tags=("relational",),
    ),
    QuerySpec(
        "a_dim_variance",
        a_dim_variance,
        A_DIMVAR_SQL,
        doc="top-10 embedding dims by variance (feature screen)",
        tags=("embeddings", "stats"),
    ),
    QuerySpec(
        "e_mrl_prefix_topk",
        e_mrl_prefix_topk,
        E_MRL_SQL,
        doc="matryoshka prefix-dim shortlist + full-dim re-rank ANN",
        tags=("embeddings", "ann"),
    ),
    QuerySpec(
        "q_new_vs_returning",
        q_new_vs_returning,
        Q_NEWRET_SQL,
        doc="weekly active/new/returning user counts",
        tags=("events", "cohort"),
    ),
    QuerySpec(
        "g_grid_density_clusters",
        g_grid_density_clusters,
        G_DENSITY_SQL,
        doc="DBSCAN-lite: dense grid cells merged via connected components",
        tags=("spatial", "graph", "clustering"),
    ),
]
