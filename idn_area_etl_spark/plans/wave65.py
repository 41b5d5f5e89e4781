"""Sixty-fifth wave: offline recommender evaluation and facility-
location subset selection.

Reference parity note: recsys-eval + submodular data-selection
extensions.

- **Rec MRR / hit rate** (`q_rec_mrr_hitrate`, oracle) — the offline
  evaluation harness: co-occurrence recommendations trained on the
  FIRST-half orders (by order key parity: even keys train, odd keys
  test), evaluated against held-out test co-purchases — mean
  reciprocal rank of the first test hit and hit-rate@5 over focus
  parts that appear in both splits.  The temporal-split discipline
  every production recsys eval uses, as one declarative plan.
- **Facility location** (`s_facility_location`, rows-only) — greedy
  submodular selection of 5 representative vectors from the first
  60 embeddings; each greedy step is one distributed marginal-gain
  pass (operators/facility.py).  Exact greedy pinned against a
  pure-Python reference in tests/test_facility.py.
- **Planted facility location** (`s_facility_planted`, exact oracle;
  r8, the planted fixed-point pattern's sixth application) — the
  REAL greedy operator on one-hot vectors, where every cosine
  similarity is EXACTLY 1.0 or 0.0 and strictly ordered group sizes
  force the selection sequence; see the builder docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.operators.facility import facility_location_select
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


# ------------------------------------------------------------------ #
# q_rec_mrr_hitrate
# ------------------------------------------------------------------ #


def q_rec_mrr_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train co-occurrence recs on even-key orders, evaluate MRR and
    hit-rate@5 against odd-key test co-purchases (focus p1 < 50)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r8-opt: op is staged (feeds the train/test sides x a/b — four
    # scan+distinct pipelines in the captured plan); recs and truth
    # are staged (each feeds two consumers of the evaluation join).
    op = _stage(li.select("l_orderkey", "l_partkey").distinct())
    train = op.filter(F.col("l_orderkey") % 2 == 0)
    test = op.filter(F.col("l_orderkey") % 2 == 1)
    ta = train.filter(F.col("l_partkey") < 50).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    tb = train.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    recs = _stage(
        ta.join(tb, "ok")
        .filter(F.col("p1") != F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("co"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("p1").orderBy(
                    F.desc("co"), "p2"
                )
            ),
        )
        .filter(F.col("rnk") <= 5)
    )
    ea = test.filter(F.col("l_partkey") < 50).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    eb = test.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    truth = _stage(
        ea.join(eb, "ok")
        .filter(F.col("p1") != F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    hits = recs.join(truth, ["p1", "p2"]).groupBy("p1").agg(
        F.min("rnk").alias("first_hit")
    )
    evaluated = (
        recs.select("p1")
        .distinct()
        .join(truth.select("p1").distinct(), "p1")
        .join(hits, "p1", "left")
    )
    return evaluated.agg(
        F.count("*").cast("long").alias("n_evaluated"),
        F.sum(F.col("first_hit").isNotNull().cast("long"))
        .cast("long")
        .alias("n_hit"),
        F.round(
            (
                F.sum(
                    F.coalesce(
                        (1.0 / F.col("first_hit")).cast("decimal(20,12)"),
                        F.lit(0).cast("decimal(20,12)"),
                    )
                )
                / F.count("*")
            ).cast("double"),
            6,
        ).alias("mrr"),
        F.round(
            F.sum(F.col("first_hit").isNotNull().cast("long")).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("hit_rate_at_5"),
    )


Q_MRR_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
train AS (SELECT * FROM op WHERE l_orderkey % 2 = 0),
test AS (SELECT * FROM op WHERE l_orderkey % 2 = 1),
recs AS (
  SELECT p1, p2, rnk FROM (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2,
      ROW_NUMBER() OVER (PARTITION BY a.l_partkey
        ORDER BY COUNT(*) DESC, b.l_partkey) AS rnk
    FROM train a JOIN train b
      ON a.l_orderkey = b.l_orderkey
     AND a.l_partkey <> b.l_partkey
    WHERE a.l_partkey < 50
    GROUP BY a.l_partkey, b.l_partkey
  ) WHERE rnk <= 5
),
truth AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM test a JOIN test b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_partkey < 50
),
hits AS (
  SELECT p1, MIN(rnk) AS first_hit
  FROM recs JOIN truth USING (p1, p2)
  GROUP BY p1
),
evaluated AS (
  SELECT r.p1, first_hit
  FROM (SELECT DISTINCT p1 FROM recs) r
  JOIN (SELECT DISTINCT p1 FROM truth) t USING (p1)
  LEFT JOIN hits USING (p1)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_evaluated,
  CAST(SUM(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit,
  ROUND(CAST(SUM(COALESCE(CAST(1.0 / first_hit AS DECIMAL(20,12)),
                          CAST(0 AS DECIMAL(20,12))))
             / COUNT(*) AS DOUBLE), 6) AS mrr,
  ROUND(CAST(SUM(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS hit_rate_at_5
FROM evaluated
"""


# ------------------------------------------------------------------ #
# s_facility_location
# ------------------------------------------------------------------ #


def s_facility_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location pick of 5 representatives from the
    first 60 embeddings (rows-only; pytest-certified)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 60
    )
    return facility_location_select(spark, emb, k=5)


# ------------------------------------------------------------------ #
# s_facility_planted
# ------------------------------------------------------------------ #

#: planted group boundaries over vec_id < 60: sizes 20/15/10/8/7,
#: strictly decreasing so greedy group order is forced.
_FAC_BOUNDS = (20, 35, 45, 53, 60)


def _fac_group() -> F.Column:
    g = F.lit(len(_FAC_BOUNDS) - 1)
    for i, b in reversed(list(enumerate(_FAC_BOUNDS))):
        g = F.when(F.col("vec_id") < b, F.lit(i)).otherwise(g)
    return g


def s_facility_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted facility-location fixed point: run the REAL greedy
    operator (same all-pairs cosine table, same decimal marginal-gain
    aggregation, same argmax tie-break as ``s_facility_location``) on
    vectors where the greedy sequence is FORCED, giving the rows-only
    spec's exact plan a cross-engine SQL oracle.

    Construction: the first 60 embeddings become ONE-HOT vectors on
    their group's axis (groups of strictly decreasing sizes
    20/15/10/8/7 via vec_id ranges), with an md5-derived POSITIVE
    magnitude so the norm/dot machinery does real arithmetic.

    Exactness argument (every step IEEE-verifiable, no tolerance):

    - same-axis cosine: dot = fl(a·b) (63 zero terms + one product,
      summed left-to-right) and ‖u‖·‖v‖ = fl(a·b) too, because
      ``fl(sqrt(fl(a*a))) == a`` in round-to-nearest (the
      e_eigvec_planted identity; magnitudes ∈ [1, 1025), no over/
      underflow) — so sim = x/x = EXACTLY 1.0;
    - cross-axis cosine: every product term carries a 0.0 factor →
      dot = 0.0 → sim = EXACTLY 0.0;
    - hence every greedy gain/coverage/objective is a sum of exact
      1.0/0.0 through decimal(38,18) — exact INTEGERS in double, and
      ``round(obj, 6)`` is the identity;
    - greedy forcing: an uncovered group's members all carry gain =
      group size, covered groups carry gain 0; sizes are strictly
      decreasing, so step k selects the k-th largest group at its
      smallest vec_id (the argmax (gain desc, j asc) tie-break), and
      the objective after step k is the exact cumulative member
      count.  The oracle recomputes sizes from the same vec_id
      ranges — zero floating point crosses engines.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 60
    )
    k = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("fac:"), F.col("vec_id").cast("string"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(1 << 20)
    )
    mag = k / F.lit(1024.0) + F.lit(1.0)
    grp = _fac_group()
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: F.when(d == grp, mag).otherwise(F.lit(0.0)),
    )
    planted = emb.select("vec_id", vec.alias("embedding"))
    return facility_location_select(spark, planted, k=5)


S_FACILITY_PLANTED_SQL = """
WITH g AS (
  SELECT vec_id,
    CASE WHEN vec_id < 20 THEN 0 WHEN vec_id < 35 THEN 1
         WHEN vec_id < 45 THEN 2 WHEN vec_id < 53 THEN 3
         ELSE 4 END AS grp
  FROM embeddings WHERE vec_id < 60
),
sz AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         MIN(vec_id) AS first_id
  FROM g GROUP BY grp
)
SELECT
  CAST(row_number() OVER (ORDER BY n DESC, first_id) AS INT) AS step,
  first_id AS selected_id,
  CAST(SUM(n) OVER (ORDER BY n DESC, first_id) AS DOUBLE) AS objective
FROM sz ORDER BY step
"""


SPECS = [
    QuerySpec(
        "q_rec_mrr_hitrate",
        q_rec_mrr_hitrate,
        Q_MRR_SQL,
        doc="temporal-split co-occurrence rec eval: MRR + hit-rate@5",
        tags=("recommender", "eval"),
    ),
    QuerySpec(
        "s_facility_location",
        s_facility_location,
        None,  # greedy argmax chain not SQL-expressible
        doc="greedy facility-location subset selection (k=5)",
        tags=("dataset-prep", "sampling", "embedding"),
    ),
    QuerySpec(
        "s_facility_planted",
        s_facility_planted,
        S_FACILITY_PLANTED_SQL,
        doc="planted forced greedy sequence: exact oracle for the "
        "real facility-location operator (sixth planted fixed point)",
        tags=("dataset-prep", "sampling", "embedding", "planted"),
    ),
]
