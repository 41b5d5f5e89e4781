"""Fourth-wave queries (windows, higher-order array functions,
unpivot): registration and oracle parity at sf0.001."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave4


def test_all_wave4_registered_with_oracles():
    specs = all_specs()
    for spec in wave4.SPECS:
        assert specs[spec.name] is spec
        assert spec.oracle is not None


@pytest.mark.parametrize(
    "name", [s.name for s in wave4.SPECS if s.oracle is not None]
)
def test_wave4_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)
