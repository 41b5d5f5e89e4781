"""The in-memory cell-grid source: a JVM-local plan leaf holding the
same rows as a plain ``createDataFrame`` over Python tuples."""

from __future__ import annotations

from pathlib import Path

from idn_area_etl_spark.config import default_config
from idn_area_etl_spark.operators import extract_all
from idn_area_etl_spark.sources import RAW_TABLE_SCHEMA, raw_from_cell_grids
from idn_area_etl_spark.writer import write_all_entities

HOSTILE_TABLES = [
    (1, 0, [
        ["K O D E", None, 7, 1.5, True],
        ["Tanjung Pinang – Kepri", "03°19'03.44\" U", "Nias\nSelatan", 'a "b", c', ""],
    ]),
    (1, 1, [["one"], [], ["a", "b", "c", "d", "e", "f", "g", "h"]]),
    (3, 2, [["é", "日本", "\r\n", ",", '"']]),
]


def tuple_rows(spark, tables):
    """The source's former construction: a Python list of tuples."""
    rows = [
        (page_no, table_no, row_no, [str(c) for c in row])
        for page_no, table_no, grid in tables
        for row_no, row in enumerate(grid)
    ]
    return spark.createDataFrame(rows, RAW_TABLE_SCHEMA)


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_plan_leaf_is_local_relation(spark):
    plan = optimized_plan(raw_from_cell_grids(spark, HOSTILE_TABLES))
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_hostile_grids_match_tuple_construction(spark):
    df = raw_from_cell_grids(spark, HOSTILE_TABLES)
    assert df.schema == RAW_TABLE_SCHEMA
    got = [tuple(r) for r in df.collect()]
    assert got == [tuple(r) for r in tuple_rows(spark, HOSTILE_TABLES).collect()]
    cells = {(p, t, r): c for p, t, r, c in got}
    assert cells[(1, 0, 0)] == ["K O D E", "None", "7", "1.5", "True"]
    assert cells[(1, 0, 1)][2] == "Nias\nSelatan"
    assert cells[(1, 1, 1)] == []
    assert len(cells[(1, 1, 2)]) == 8
    assert cells[(3, 2, 0)] == ["é", "日本", "\r\n", ",", '"']


def test_empty_table_list_keeps_schema_and_header_only_files(spark, tmp_path: Path):
    raw = raw_from_cell_grids(spark, [])
    assert raw.schema == RAW_TABLE_SCHEMA
    assert raw.count() == 0
    counts = write_all_entities(
        extract_all(raw), tmp_path, "empty", default_config(), exact=True
    )
    assert set(counts.values()) == {0}
    assert (tmp_path / "empty.province.csv").read_bytes() == b"code,name\r\n"
    assert (tmp_path / "empty.island.csv").read_bytes() == (
        b"code,regency_code,coordinate,is_populated,is_outermost_small,name\r\n"
    )
