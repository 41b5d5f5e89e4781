"""Golden end-to-end parity on the reference's OWN fixture workload.

The reference byte-compares five CSVs produced from
``tests/fixtures/target_tables.pdf`` (reference test_e2e.py:24-91 —
50 golden rows, including 34 islands with real messy coordinates).
This container has no camelot, so the PDF source falls back to the
pure-stdlib lattice transcriber (``sources/lattice.py``); both entry
points are byte-compared against the reference's own expected_*.csv
files (read in place — nothing is vendored):

1. the CLI's ``--fixture-json`` dataflow over pre-transcribed grids;
2. the REAL S1 executor path — ``pdf_to_raw_tables``'s page-manifest
   ``mapInPandas`` stage parsing the fixture PDF on executors — and
   the CLI run directly against the PDF (no fixture JSON).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from idn_area_etl_spark.sources.lattice import count_pages, transcribe

FIXTURES = Path("/root/reference/tests/fixtures")
ENTITIES = ["province", "regency", "district", "village", "island"]
PDF = FIXTURES / "target_tables.pdf"

pytestmark = pytest.mark.skipif(
    not PDF.exists(), reason="reference fixture PDF not available"
)


@pytest.fixture(scope="module")
def golden_outputs(spark, tmp_path_factory):
    from idn_area_etl_spark.cli import main

    tmp = tmp_path_factory.mktemp("golden_e2e")
    grids = transcribe(str(PDF))
    fixture_json = tmp / "grids.json"
    fixture_json.write_text(json.dumps(grids, ensure_ascii=False))
    dest = tmp / "out"
    rc = main([
        "target_tables.pdf", "-d", str(dest), "-o", "e2e",
        "--fixture-json", str(fixture_json),
    ])
    assert rc == 0
    return dest


def test_transcriber_finds_both_tables():
    grids = transcribe(str(PDF))
    assert len(grids) == 2
    (p1, _, g1), (p2, _, g2) = grids
    assert (p1, p2) == (1, 2)
    assert g1[0][0] == "K O D E"
    assert g2[0][0] == "Kode Pulau"


def test_stdlib_page_count_probe():
    assert count_pages(str(PDF)) == 2


@pytest.mark.parametrize("entity", ENTITIES)
def test_golden_csv_byte_parity(golden_outputs, entity):
    expected = (FIXTURES / f"expected_{entity}.csv").read_bytes()
    actual = (golden_outputs / f"e2e.{entity}.csv").read_bytes()
    assert actual == expected, f"{entity} CSV drifted from the golden bytes"


# ------------------------------------------------------------------ #
# S1 executor path: the page-manifest mapInPandas parse stage itself
# runs over the real PDF bytes (no pre-transcribed grids)
# ------------------------------------------------------------------ #


@pytest.fixture(scope="module")
def executor_outputs(spark, tmp_path_factory):
    from idn_area_etl_spark.config import load_config
    from idn_area_etl_spark.operators.registry import extract_all
    from idn_area_etl_spark.sources.pdf import pdf_to_raw_tables
    from idn_area_etl_spark.writer import write_all_entities

    raw = pdf_to_raw_tables(spark, str(PDF), chunk_size=1)
    dest = tmp_path_factory.mktemp("golden_s1") / "out"
    dest.mkdir(parents=True)
    counts = write_all_entities(
        extract_all(raw), dest, "e2e", load_config(None)
    )
    assert sum(c for c in counts.values() if c > 0) == 50
    return dest


def test_executor_parse_stage_tags_lineage(spark):
    from idn_area_etl_spark.sources.pdf import pdf_to_raw_tables

    rows = pdf_to_raw_tables(spark, str(PDF), chunk_size=1).collect()
    pages = {r["page_no"] for r in rows}
    assert pages == {1, 2}
    # document order within each page is preserved by (table, row) tags
    for page in pages:
        row_nos = [r["row_no"] for r in rows if r["page_no"] == page]
        assert row_nos == sorted(row_nos)


@pytest.mark.parametrize("entity", ENTITIES)
def test_executor_path_golden_csv_byte_parity(executor_outputs, entity):
    expected = (FIXTURES / f"expected_{entity}.csv").read_bytes()
    actual = (executor_outputs / f"e2e.{entity}.csv").read_bytes()
    assert actual == expected, f"{entity} CSV drifted (S1 executor path)"


def test_cli_runs_directly_on_pdf(tmp_path):
    """CLI against the real PDF, no --fixture-json: probe (stdlib
    /Kids fallback) → manifest → executor parse → golden bytes."""
    from idn_area_etl_spark.cli import main

    dest = tmp_path / "out"
    rc = main([str(PDF), "-d", str(dest), "-o", "e2e"])
    assert rc == 0
    for entity in ENTITIES:
        expected = (FIXTURES / f"expected_{entity}.csv").read_bytes()
        assert (dest / f"e2e.{entity}.csv").read_bytes() == expected
