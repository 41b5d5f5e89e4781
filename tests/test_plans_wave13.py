"""Thirteenth-wave tests: the HLL mergeability invariants SQL can't
check."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave13


def test_all_wave13_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave13.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave13.SPECS if s.oracle is not None]
)
def test_wave13_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_hll_merge_is_lossless_and_accurate(spark, sf_dir):
    """Union of daily sketches estimates within 2% of the whole-range
    sketch (NOT exactly equal: streamed sketches use the HIP estimator,
    union results the composite estimator — they coincide only while
    the sketch is still sparse/exact, which is why tiny SFs show exact
    equality); both estimates land within 5% of the exact distinct
    count.  The spec emits these as in-plan booleans (oracle pins them
    TRUE); this test asserts the booleans AND re-derives the raw
    estimates independently so a broken boolean expression can't
    hide."""
    from pyspark.sql import functions as F

    from idn_area_etl_spark.sources.tables import load_table

    rows = all_specs()["a_hll_merge_daily"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.estimators_agree_2pct, r
        assert r.merged_within_5pct, r
        assert r.direct_within_5pct, r
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    for r in merged.join(direct, "event_type").collect():
        assert abs(r.est_merged - r.est_direct) / r.est_direct <= 0.02, (
            r.event_type, r.est_merged, r.est_direct
        )
        # at sf0.001 the sketch is still sparse → merge is exact there
        if r.exact_users < 512:
            assert r.est_merged == r.est_direct
        assert abs(r.est_direct - r.exact_users) / r.exact_users < 0.05
