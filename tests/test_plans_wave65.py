"""Sixty-fifth-wave tests: structural invariants for the greedy
facility-location subset (monotone non-decreasing objective,
distinct selections, k-cap behavior when k exceeds the input size)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave65


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave65.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave65.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_facility_selection_structure(spark, sf_dir):
    rows = wave65.s_facility_location(spark, sf_dir).orderBy("step").collect()
    assert [r["step"] for r in rows] == list(range(1, len(rows) + 1))
    ids = [r["selected_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    objs = [r["objective"] for r in rows]
    # submodular greedy: objective is monotone non-decreasing
    assert all(b >= a - 1e-9 for a, b in zip(objs, objs[1:]))


def test_facility_k_exceeding_input_stops_cleanly(spark):
    from idn_area_etl_spark.operators.facility import facility_location_select

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = facility_location_select(spark, emb, k=10).collect()
    assert len(rows) == 3  # stops once every vector is selected


def test_facility_rejects_non_numeric_ids(spark):
    from idn_area_etl_spark.operators.facility import facility_location_select

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="numeric id column"):
        facility_location_select(spark, emb, k=1)
