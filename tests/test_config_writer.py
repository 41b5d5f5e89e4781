"""Config loader + CSV sink tests (golden byte parity)."""

from __future__ import annotations

from pathlib import Path

import pytest

from idn_area_etl_spark.config import (
    ConfigError,
    default_config,
    load_config,
)
from idn_area_etl_spark.operators import extract_all
from idn_area_etl_spark.sources import raw_from_cell_grids
from idn_area_etl_spark.writer import write_all_entities, write_entity_csv_exact


def test_default_config_matches_reference_schema():
    cfg = default_config()
    assert cfg.data["regency"].output_headers == ["code", "province_code", "name"]
    assert cfg.data["island"].output_headers == [
        "code", "regency_code", "coordinate", "is_populated",
        "is_outermost_small", "name",
    ]
    assert cfg.data["village"].batch_size == 2000


def test_load_config_overrides_and_string_headers(tmp_path: Path):
    toml = tmp_path / "cfg.toml"
    toml.write_text(
        '[data.province]\nfilename_suffix = "prov"\n'
        'output_headers = "code, name"\nbatch_size = 7\n'
    )
    cfg = load_config(toml)
    assert cfg.data["province"].filename_suffix == "prov"
    assert cfg.data["province"].output_headers == ["code", "name"]
    assert cfg.data["province"].batch_size == 7
    assert cfg.data["regency"].filename_suffix == "regency"  # default kept


def test_load_config_rejects_bad_values(tmp_path: Path):
    bad = tmp_path / "bad.toml"
    bad.write_text('[data.province]\nbatch_size = 0\n')
    with pytest.raises(ConfigError):
        load_config(bad)
    unknown = tmp_path / "unk.toml"
    unknown.write_text('[data.metropolis]\nbatch_size = 5\n')
    with pytest.raises(ConfigError):
        load_config(unknown)


AREA_GRID = [
    ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
    ["", "", "", "", "", "", ""],
    ["11", "Aceh", "", "", "", "", ""],
    ["11.01", "Kabupaten Aceh Selatan", "", "", "", "", ""],
]

ISLAND_GRID = [
    ["Kode Pulau", "Nama Pulau", "Koordinat", "BP/TBP", "Keterangan"],
    ["11.01.40001", "Pulau Batukapal", "03°19'03.44\" U 097°07'41.73\" T",
     "BP", "(PPKT)"],
]


def test_write_all_entities_golden_bytes(spark, tmp_path: Path):
    raw = raw_from_cell_grids(spark, [(1, 0, AREA_GRID), (2, 0, ISLAND_GRID)])
    counts = write_all_entities(
        extract_all(raw), tmp_path, "out", default_config()
    )
    assert counts == {
        "province": 1, "regency": 1, "district": 0, "village": 0, "island": 1,
    }
    prov = (tmp_path / "out.province.csv").read_bytes()
    assert prov == b"code,name\r\n11,Aceh\r\n"
    isl = (tmp_path / "out.island.csv").read_bytes()
    assert isl == (
        b"code,regency_code,coordinate,is_populated,is_outermost_small,name\r\n"
        b'11.01.40001,11.01,"03\xc2\xb019\'03.44"" N 097\xc2\xb007\'41.73"" E",'
        b"1,1,Pulau Batukapal\r\n"
    )
    # zero-row entities still get header-only files
    assert (tmp_path / "out.district.csv").read_bytes() == (
        b"code,regency_code,name\r\n"
    )


#: Spark jobs the exact sink may run for the fixture above.  The five
#: entity files come from one query, which runs 6 jobs (its shuffle map
#: stages, the routing broadcasts and the result); a sort and an
#: iterator per entity ran 22.
EXACT_SINK_JOB_BUDGET = 7


def test_write_all_entities_runs_one_query_within_job_budget(spark, tmp_path: Path):
    sc = spark.sparkContext
    group = "test-exact-sink-job-budget"
    raw = raw_from_cell_grids(spark, [(1, 0, AREA_GRID), (2, 0, ISLAND_GRID)])
    sc.setJobGroup(group, "exact sink job budget")
    try:
        counts = write_all_entities(
            extract_all(raw), tmp_path, "out", default_config()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sum(counts.values()) == 3
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= EXACT_SINK_JOB_BUDGET, sorted(jobs)


def test_exact_writer_orders_by_document_position(spark, tmp_path: Path):
    df = spark.createDataFrame(
        [(2, 0, 5, "b"), (1, 0, 3, "a"), (2, 1, 0, "c")],
        "page_no int, table_no int, row_no int, name string",
    )
    target = tmp_path / "ordered.csv"
    n = write_entity_csv_exact(df, target, ["name"])
    assert n == 3
    assert target.read_bytes() == b"name\r\na\r\nb\r\nc\r\n"
