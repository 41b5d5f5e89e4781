"""Oracle parity for the whole registry at sf0.001: every spec with
oracle SQL must match its DuckDB oracle under the strict
``tools/check_oracle.py`` contract (column names, row count and
``norm_cell``-canonical values, order-insensitive) — the same compare
the full-registry ``check_oracle.py`` sweep applies.  The compare is the
``oracle_parity`` fixture in ``conftest.py``."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs

SPECS = all_specs()

ORACLE_NAMES = [n for n, spec in SPECS.items() if spec.oracle is not None]

#: Specs with no SQL oracle (genuinely non-SQL-expressible operators,
#: certified rows-only).  Pinned so a spec that loses its oracle fails
#: here instead of silently dropping out of the parity test.
ROWS_ONLY = {
    "d_minhash_candidates",
    "d_simhash",
    "e_ann_lsh",
    "e_ann_ivf",
    "e_pq_topk",
    "d_bpe_merges",
    "d_bpe_encode_stats",
    "e_isotonic_calibration",
    "s_facility_location",
    "e_top_eigenvector",
}


def test_rows_only_specs_are_pinned():
    assert set(SPECS) - set(ORACLE_NAMES) == ROWS_ONLY


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)
