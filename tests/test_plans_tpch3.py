"""Third TPC-H batch: registration and oracle parity at sf0.001."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, tpch3


def test_registry_has_no_duplicates_and_all_tpch3_registered():
    specs = all_specs()
    for spec in tpch3.SPECS:
        assert specs[spec.name] is spec
        assert spec.oracle is not None


@pytest.mark.parametrize(
    "name", [s.name for s in tpch3.SPECS if s.oracle is not None]
)
def test_tpch3_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)
