"""Driver-paced loops on ``stage._round``: empty inputs, Spark jobs
per loop spec, and blocks left pinned after a run."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.operators.bpe import train_bpe
from idn_area_etl_spark.operators.facility import facility_location_select
from idn_area_etl_spark.operators.graph import connected_components, pagerank
from idn_area_etl_spark.operators.ivf import kmeans_fit
from idn_area_etl_spark.operators.pca import top_principal_component
from idn_area_etl_spark.operators.pq import pq_fit
from idn_area_etl_spark.plans import all_specs

EDGES = "src bigint, dst bigint"
EMB = "vec_id bigint, embedding array<float>"

#: operator, empty input schema, call, result schema (None: a list)
LOOPS = {
    "connected_components": (
        EDGES,
        lambda spark, df: connected_components(df),
        [("node", "bigint"), ("component", "bigint")],
    ),
    "pagerank": (
        EDGES,
        lambda spark, df: pagerank(df),
        [("node", "bigint"), ("rank", "double")],
    ),
    "kmeans_fit": (
        EMB,
        lambda spark, df: kmeans_fit(df, k=3, iters=2),
        [("cluster_id", "int"), ("centroid", "array<double>")],
    ),
    "top_principal_component": (
        EMB,
        lambda spark, df: top_principal_component(spark, df, n_iter=2),
        [
            ("d", "int"),
            ("mean", "double"),
            ("component", "double"),
            ("explained_var_ratio", "double"),
        ],
    ),
    "train_bpe": ("text string", lambda spark, df: train_bpe(df, n_merges=3), None),
    "facility_location_select": (
        EMB,
        lambda spark, df: facility_location_select(spark, df, k=3),
        [("step", "int"), ("selected_id", "bigint"), ("objective", "double")],
    ),
    "pq_fit": (
        EMB,
        lambda spark, df: pq_fit(df, n_sub=2, k=2, iters=2, dim=4),
        [("sub", "int"), ("cluster_id", "int"), ("centroid", "array<double>")],
    ),
}


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_loop_operator_on_empty_input(spark, name):
    """An empty input gives an empty result with the operator's
    normal schema: no division by a zero node count, no index into an
    empty collect."""
    schema, call, expected = LOOPS[name]
    out = call(spark, spark.createDataFrame([], schema))
    if expected is None:
        assert out == []
    else:
        assert out.dtypes == expected
        assert out.collect() == []


def _run_in_group(spark, sf_dir, name):
    """(builder jobs, action jobs, cached RDDs the run left behind)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    first_rdd = sc.parallelize([0]).id()
    try:
        sc.setJobGroup(f"loop-build-{name}", name)
        df = all_specs()[name].builder(spark, sf_dir)
        sc.setJobGroup(f"loop-action-{name}", name)
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    pinned = [
        info.id()
        for info in sc._jsc.sc().getRDDStorageInfo()
        if info.id() > first_rdd
    ]
    return (
        len(tracker.getJobIdsForGroup(f"loop-build-{name}")),
        len(tracker.getJobIdsForGroup(f"loop-action-{name}")),
        pinned,
    )


#: builder + action jobs at sf0.001: each round's convergence value or
#: choice rides on its checkpoint, with no collect of its own.
LOOP_JOBS = {"d_dedup_clusters": 28, "s_kcenter_coreset": 14, "g_pagerank_trade": 38}


@pytest.mark.parametrize("name", sorted(LOOP_JOBS))
def test_loop_spec_job_count(spark, sf_dir, name):
    built, acted, _ = _run_in_group(spark, sf_dir, name)
    assert built + acted == LOOP_JOBS[name], (built, acted)


@pytest.mark.parametrize(
    "name", ["s_kcenter_coreset", "s_facility_planted", "d_bpe_merges_planted"]
)
def test_driver_result_loop_leaves_no_blocks(spark, sf_dir, name):
    """Loops whose result is built on the driver release every round
    before they return: the session's cached RDDs are back at their
    start set."""
    _, _, pinned = _run_in_group(spark, sf_dir, name)
    assert pinned == []
