"""Fortieth-wave tests: PIT join leakage-freedom on a planted
timeline."""

from __future__ import annotations

from datetime import datetime

from idn_area_etl_spark.operators.joins import asof_join
from idn_area_etl_spark.plans import all_specs, wave40


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave40.SPECS)


def test_pit_matches_duckdb_oracle(oracle_parity):
    oracle_parity("j_point_in_time")


def test_pit_no_leakage_planted(spark):
    """An event BEFORE a dimension version can never pick it up —
    the leakage-freedom property PIT joins exist for."""
    dim = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 10), "v1"),
            (1, datetime(2024, 1, 20), "v2"),
        ],
        ["key", "vts", "val"],
    )
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 5), 100),   # before any version
            (1, datetime(2024, 1, 10), 101),  # exactly at v1
            (1, datetime(2024, 1, 15), 102),  # inside v1
            (1, datetime(2024, 1, 25), 103),  # inside v2
        ],
        ["key", "ts", "event_id"],
    )
    out = {
        r["event_id"]: r["asof_val"]
        for r in asof_join(
            ev, dim, key="key", left_ts="ts", right_ts="vts",
            payload_cols=["val"],
        ).collect()
    }
    assert out == {100: None, 101: "v1", 102: "v1", 103: "v2"}
