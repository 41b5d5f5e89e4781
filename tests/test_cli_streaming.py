"""CLI end-to-end + streaming micro-batch pipeline tests."""

from __future__ import annotations

import json
import signal
from pathlib import Path

from idn_area_etl_spark.cli import build_parser, main, validate_args
from idn_area_etl_spark.sources.pdf import parse_page_range, validate_page_range
from idn_area_etl_spark.sources.raw import raw_from_cell_grids
from idn_area_etl_spark.streaming import run_micro_batch_pipeline

AREA_GRID = [
    ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
    ["", "", "", "", "", "", ""],
    ["11", "Aceh", "", "", "", "", ""],
    ["11.01", "Kabupaten Aceh Selatan", "", "", "", "", ""],
    ["11.01.01", "1 Bakongan", "", "", "", "", ""],
]


def test_page_range_helpers():
    assert validate_page_range("1-4,6")
    assert not validate_page_range("1-,6")
    assert not validate_page_range("abc")
    assert parse_page_range("1-4,6,4", 5) == [1, 2, 3, 4]
    assert parse_page_range("2", 5) == [2]


def test_cli_validation_failures(tmp_path: Path):
    parser = build_parser()
    not_pdf = parser.parse_args([str(tmp_path / "x.txt")])
    assert "must be a .pdf" in validate_args(not_pdf)
    bad_pages = parser.parse_args(["x.pdf", "--pages", "1-"])
    assert "invalid page range" in validate_args(bad_pages)
    # reference spelling --range/-r (reference cli.py:98) maps to pages
    assert parser.parse_args(["x.pdf", "-r", "1-4,6"]).pages == "1-4,6"
    assert parser.parse_args(["x.pdf", "--range", "2"]).pages == "2"
    bad_name = parser.parse_args(["x.pdf", "--output", "bad name!"])
    assert "invalid output name" in validate_args(bad_name)
    file_dest = tmp_path / "afile"
    file_dest.write_text("x")
    bad_dest = parser.parse_args(["x.pdf", "-d", str(file_dest)])
    assert "not a directory" in validate_args(bad_dest)


def test_cli_end_to_end_with_fixture(spark, tmp_path: Path):
    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps([[1, 0, AREA_GRID]]))
    dest = tmp_path / "out"
    rc = main([
        "doc.pdf", "-d", str(dest), "-o", "doc",
        "--fixture-json", str(fixture),
    ])
    assert rc == 0
    assert (dest / "doc.province.csv").read_bytes() == b"code,name\r\n11,Aceh\r\n"
    assert "11.01.01,11.01,Bakongan" in (dest / "doc.district.csv").read_text()


def test_cli_dedups_provinces_across_chunks(spark, tmp_path: Path):
    """With one page per chunk, page 2's repeat of province '11' is
    still dropped: first-seen is run-global (reference
    ``_seen_provinces``, extractors.py:110-112)."""
    page2 = [
        ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
        ["", "", "", "", "", "", ""],
        ["11", "Aceh Duplikat", "", "", "", "", ""],
        ["12", "Sumatera Utara", "", "", "", "", ""],
    ]
    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps([[1, 0, AREA_GRID], [2, 0, page2]]))
    dest = tmp_path / "out"
    rc = main([
        "doc.pdf", "-d", str(dest), "-o", "doc", "-c", "1",
        "--fixture-json", str(fixture),
    ])
    assert rc == 0
    assert (dest / "doc.province.csv").read_bytes() == (
        b"code,name\r\n11,Aceh\r\n12,Sumatera Utara\r\n"
    )


def test_cli_zero_rows_exits_1(spark, tmp_path: Path):
    fixture = tmp_path / "empty.json"
    fixture.write_text(json.dumps([[1, 0, [["NO", "DATA"], ["1", "x"]]]]))
    rc = main([
        "doc.pdf", "-d", str(tmp_path / "out2"),
        "--fixture-json", str(fixture),
    ])
    assert rc == 1


def _write_chunks(spark, in_dir: Path) -> None:
    """Two page-chunks; province '11' appears in both."""
    chunk1 = [
        (1, 0, AREA_GRID),
    ]
    chunk2 = [
        (2, 0, [
            ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
            ["", "", "", "", "", "", ""],
            ["11", "Aceh Duplikat", "", "", "", "", ""],   # dup across chunks
            ["12", "Sumatera Utara", "", "", "", "", ""],
        ]),
    ]
    in_dir.mkdir()
    for name, chunk in (("chunk1", chunk1), ("chunk2", chunk2)):
        raw_from_cell_grids(spark, chunk).coalesce(1).write.parquet(
            str(in_dir / f"{name}.parquet")
        )


def test_streaming_micro_batches_dedup_across_chunks(spark, tmp_path: Path):
    in_dir = tmp_path / "raw_stream"
    _write_chunks(spark, in_dir)
    counts = run_micro_batch_pipeline(
        spark, str(in_dir / "*" ), str(tmp_path / "out")
    )
    assert counts["province"] == 2        # '11' deduped across chunks
    assert counts["regency"] == 1
    assert counts["district"] == 1
    provinces = {
        r["code"]: r["name"]
        for r in spark.read.parquet(str(tmp_path / "out" / "province")).collect()
    }
    assert provinces == {"11": "Aceh", "12": "Sumatera Utara"}


def test_streaming_micro_batch_materializes_its_area_rows_once(
    spark, tmp_path: Path, monkeypatch
):
    """The four area-level writes of a micro-batch read one staged area
    frame: a probe filter on the area rows counts every row it
    evaluates, so each of the 5 area rows (3 in chunk 1, 2 in chunk 2)
    is seen once, not once per level.  The probe is nondeterministic,
    so no level filter can be pushed below it."""
    from pyspark.sql import functions as F

    from idn_area_etl_spark.streaming import micro_batch

    seen = spark.sparkContext.accumulator(0)

    def count_row(code):
        seen.add(1)
        return True

    probe = F.udf(count_row, "boolean").asNondeterministic()
    extract_all = micro_batch.extract_all

    def probed(batch):
        extracted = extract_all(batch)
        return {**extracted, "area": extracted["area"].where(probe("code"))}

    monkeypatch.setattr(micro_batch, "extract_all", probed)
    in_dir = tmp_path / "raw_stream"
    _write_chunks(spark, in_dir)
    counts = run_micro_batch_pipeline(spark, str(in_dir / "*"), str(tmp_path / "out"))
    assert (counts["province"], counts["regency"], counts["district"]) == (2, 1, 1)
    assert seen.value == 5


# ---------------------------------------------------------------------------
# Ctrl-C and zero-table inputs
# ---------------------------------------------------------------------------


def test_cli_keyboard_interrupt_exits_130(
    spark, tmp_path: Path, monkeypatch, capsys
):
    from idn_area_etl_spark import cli as cli_mod

    def interrupted(*args, **kwargs):
        raise KeyboardInterrupt

    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps([[1, 0, AREA_GRID]]))
    monkeypatch.setattr(cli_mod, "write_all_entities", interrupted)
    rc = cli_mod.main([
        "doc.pdf", "-d", str(tmp_path / "out"), "--fixture-json", str(fixture),
    ])
    assert rc == 130
    assert "Aborted by user" in capsys.readouterr().err


def test_cli_leaves_sigint_handler_alone(spark, tmp_path: Path):
    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps([[1, 0, AREA_GRID]]))
    before = signal.getsignal(signal.SIGINT)
    rc = main([
        "doc.pdf", "-d", str(tmp_path / "out"), "--fixture-json", str(fixture),
    ])
    assert rc == 0
    assert signal.getsignal(signal.SIGINT) is before


def test_cli_zero_tables_writes_headers_and_exits_1(spark, tmp_path: Path):
    fixture = tmp_path / "tables.json"
    fixture.write_text("[]")
    dest = tmp_path / "out"
    rc = main([
        "doc.pdf", "-d", str(dest), "-o", "x", "--fixture-json", str(fixture),
    ])
    assert rc == 1
    assert (dest / "x.province.csv").read_bytes() == b"code,name\r\n"


# ---------------------------------------------------------------------------
# --version flag (reference test_cli.py:510-541)
# ---------------------------------------------------------------------------


def test_version_prints_and_exits_zero(capsys, monkeypatch):
    from idn_area_etl_spark import cli as cli_mod

    monkeypatch.setattr(cli_mod, "version_string", lambda: "1.2.3")
    rc = cli_mod.main(["--version"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "1.2.3" in out and cli_mod.PACKAGE_NAME in out


def test_version_missing_exits_one(capsys, monkeypatch):
    from idn_area_etl_spark import cli as cli_mod

    def boom():
        raise RuntimeError("not installed")

    monkeypatch.setattr(cli_mod, "version_string", boom)
    rc = cli_mod.main(["--version"])
    assert rc == 1
    assert "Version information not available" in capsys.readouterr().out
