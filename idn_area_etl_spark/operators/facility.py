"""Greedy facility-location selection over an embedding column.

Facility location f(S) = sum_v max_{s in S} sim(v, s) is the standard
submodular objective for picking a small DIVERSE-but-representative
subset (coreset distillation, prompt selection, eval-set curation).
The greedy maximizer enjoys the classic 1-1/e guarantee.

Scale shape: k driver-steps; each step joins candidates to the
current coverage vector, computes marginal gain = sum of positive
similarity improvements and observes the argmax on the gains'
checkpoint, then rebuilds the coverage vector with the objective.
The selected set lives in literals (k is small by definition), so no
state accumulates on executors; cost is O(k) scans of the candidate-
pair similarity table, which itself is computed once and staged.

Greedy argmax chains are not portable SQL (k nested argmaxes over
recomputed coverage), so the registered query is rows-only; the exact
greedy is re-verified against a pure-Python reference in
tests/test_facility.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.similarity import (
    as_double_vec,
    dot_expr,
    norm_expr,
)
from idn_area_etl_spark.operators.stage import _release, _round, _stage, staged_scope


def facility_location_select(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy facility-location subset of size k.

    Returns (step, selected_id, objective) — objective is the
    facility-location value AFTER adding that element (rounded 6dp).
    If ``k`` exceeds the number of input vectors, selection stops once
    every vector is selected.  ``id_col`` must be numeric (ids are
    collected driver-side per greedy round).
    """
    id_type = dict(emb.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"facility_location_select requires a numeric id column; "
            f"{id_col!r} is {id_type}"
        )
    v = emb.select(
        F.col(id_col).alias("vid"),
        as_double_vec(F.col(vec_col)).alias("vec"),
    ).withColumn("nrm", norm_expr(F.col("vec")))
    a = v.select(
        F.col("vid").alias("i"),
        F.col("vec").alias("vi"),
        F.col("nrm").alias("ni"),
    )
    b = v.select(
        F.col("vid").alias("j"),
        F.col("vec").alias("vj"),
        F.col("nrm").alias("nj"),
    )
    sims = (
        a.join(b, F.lit(True))
        .select(
            "i",
            "j",
            (
                dot_expr(F.col("vi"), F.col("vj"))
                / (F.col("ni") * F.col("nj"))
            ).alias("sim"),
        )
    )
    # the k greedy steps all scan sims: stage it once, release it on
    # exit even when a step fails
    with staged_scope():
        rows = _greedy_steps(_stage(sims), k)
    return spark.createDataFrame(
        rows, "step int, selected_id long, objective double"
    )


def _greedy_steps(sims: DataFrame, k: int) -> list[tuple[int, int, float]]:
    """(step, selected id, objective) for each greedy step over the
    ``(i, j, sim)`` similarity table: the choice is observed on the
    gains' checkpoint, the objective on the coverage vector's."""
    # ORDER BY gain DESC, j: NaN first, NULL last, ties → smaller id
    best = F.max_by("j", F.struct("gain", -F.col("j"))).alias("j")
    objective = (
        F.sum(F.col("cov").cast("decimal(38,18)")).cast("double").alias("obj")
    )
    selected: list[int] = []
    rows = []
    gain = cover = None
    for step in range(1, k + 1):
        if cover is None:
            gains = sims.groupBy("j").agg(
                F.sum(F.col("sim").cast("decimal(38,18)"))
                .cast("double").alias("gain")
            )
        else:
            gains = (
                sims.join(cover, "i")
                .filter(~F.col("j").isin(selected))
                .groupBy("j")
                .agg(
                    # exact decimal sums: the greedy argmax compares
                    # these gains, so layout-dependent double
                    # summation could flip a selection (see SCALE.md,
                    # e_top_eigenvector bug class)
                    F.sum(
                        F.greatest(F.col("sim") - F.col("cov"), F.lit(0.0))
                        .cast("decimal(38,18)")
                    ).cast("double").alias("gain")
                )
            )
        gain, m = _round(gains, [best], prev=gain)
        if m["j"] is None:  # k exceeds the number of vectors
            break
        selected.append(m["j"])
        cover, m = _round(
            sims.filter(F.col("j").isin(selected))
            .groupBy("i")
            .agg(F.max("sim").alias("cov")),
            [objective],
            prev=cover,
        )
        rows.append((step, int(selected[-1]), round(float(m["obj"]), 6)))
    _release(gain, cover)
    return rows
