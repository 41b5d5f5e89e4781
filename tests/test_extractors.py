"""Parity tests for the area/island extraction pipelines.

Fixtures fabricate camelot-like positional tables (same artifact
coverage as the reference suite /root/reference/tests/test_extractors.py:
spaced-out headers, wrapped/numbered names, banner rows, messy
coordinates, regency-less islands) as long-form raw rows, and assert
the exact per-entity output rows the reference produces.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from idn_area_etl_spark.operators import classify_tables, entity_frames, extract_all
from idn_area_etl_spark.operators.registry import with_routing
from idn_area_etl_spark.sources import raw_from_cell_grids

LONG_NOTE = "Catatan panjang tentang perubahan wilayah administrasi"


def area_grid() -> list[list[str]]:
    """Area table with 9 positional columns: banner second header row,
    row-number-prefixed names, trailing name-only rows without codes."""
    return [
        ["K O D E", "NAMA PROVINSI / KABUPATEN / KOTA", "JUMLAH", "",
         "N A M A / J U M L A H", "", "", "LUAS WILAYAH (Km2)", "K E T E R A N G A N"],
        ["", "KAB", "KOTA", "KECAMATAN", "KELURAHAN", "D E S A", "", "", ""],
        ["11", "Aceh", "", "", "", "", "", "", LONG_NOTE],
        ["11.01", "Kabupaten Aceh Selatan", "18", "0", "260", "", "4.174,211", LONG_NOTE, ""],
        ["11.01.01", "1 Bakongan", "-", "7", "", "", "", "", ""],
        ["11.01.01.2001", "1 Keude Bakongan", "", "", "", "", "", "", ""],
        ["11.01.01.2002", "2 Ujong Mangki", "", "", "", "", "", "", ""],
        ["11.01.01.2003", "3 Ujong Padang", "", "", "", "", "", "", ""],
        ["11.01.01.2004", "4 Gampong Drien", "", "", "", "", "", "", ""],
        ["", "", "", "", "", "", "Bukit Gadeng", "Menjadi wil Kec. Kota Bahagia", ""],
        ["", "", "", "", "", "", "Seuneubok Keuranji", "Menjadi wil lain", ""],
    ]


def island_grid() -> list[list[str]]:
    """Island table with regency banner rows and Indonesian hemispheres."""
    return [
        ["Kode Pulau", "Nama Provinsi, Kabupaten/Kota, Pulau", "Jumlah",
         "Koordinat", "Luas\n2\n(Km )", "BP/TBP", "Keterangan"],
        ["11.01", "Kabupaten Aceh Selatan", "6", "", "", "", ""],
        ["11.01.40001", "Pulau Batukapal", "", "03°19'03.44\" U 097°07'41.73\" T",
         "0.0006", "TBP", ""],
        ["11.01.40002", "Pulau Batutunggal", "", "03°24'55.00\" U 097°04'21.00\" T",
         "0.0078", "TBP", ""],
        ["11.03", "Kabupaten Aceh Timur", "8", "", "", "", ""],
        ["11.03.40005", "Pulau Nebukserdang", "", "05°06'37.00\" U 097°37'35.00\" T",
         "", "BP", ""],
        ["11.06.40007", "Pulau Bateeleblah", "", "05°47'34.72\" U 094°58'26.09\" T",
         "0.0080", "TBP", "(PPKT)"],
    ]


def island_messy_grid() -> list[list[str]]:
    return [
        ["Kode Pulau", "Nama Provinsi, Kabupaten/Kota, Pulau", "Koordinat",
         "BP/TBP", "Keterangan"],
        ["12.00.40001", "Pulau 1", "01°22'40 U 120°53'04 T", "BP", "(PPKT)"],
        ["12.00.40002", "Pulau 2", "03° 31'33.49\" U 125° 39'37.53\" T", "", "(PPKT)"],
        ["12.01.40003", "Pulau 3", '01°18\'47.00"" U 124°30\'46.00"" T', "TBP", ""],
        ["12.01.40004", "Pulau 4", "01°22'40\" U 120°53'04\" T", "", "", ],
    ]


def non_area_grid() -> list[list[str]]:
    return [
        ["NO", "KODE", "NAMA"],
        ["1", "11", "Aceh"],
    ]


def rows_of(df, cols):
    return [
        [row[c] for c in cols]
        for row in df.orderBy("page_no", "table_no", "row_no").collect()
    ]


def test_classify_routing(spark):
    raw = raw_from_cell_grids(
        spark,
        [
            (1, 0, area_grid()),
            (1, 1, island_grid()),
            (2, 0, non_area_grid()),
        ],
    )
    meta = {
        (r["page_no"], r["table_no"]): r["extractor"]
        for r in classify_tables(raw).collect()
    }
    assert meta[(1, 0)] == "area"
    assert meta[(1, 1)] == "island"
    assert meta[(2, 0)] is None


def test_first_match_wins_precedence(spark):
    # A table satisfying BOTH classifiers must be routed to 'area'
    # (reference extractor list order, cli.py:157-160).
    grid = [
        ["K O D E", "NAMA PROVINSI / PULAU", "KODE PULAU"],
        ["", "", ""],
        ["11", "Aceh", ""],
    ]
    raw = raw_from_cell_grids(spark, [(1, 0, grid)])
    [meta] = classify_tables(raw).collect()
    assert meta["extractor"] == "area"


def test_area_happy_path(spark):
    raw = raw_from_cell_grids(spark, [(1, 0, area_grid())])
    out = entity_frames(extract_all(raw))
    assert rows_of(out["province"], ["code", "name"]) == [["11", "Aceh"]]
    assert rows_of(out["regency"], ["code", "parent_code", "name"]) == [
        ["11.01", "11", "Kabupaten Aceh Selatan"]
    ]
    assert rows_of(out["district"], ["code", "parent_code", "name"]) == [
        ["11.01.01", "11.01", "Bakongan"]
    ]
    assert rows_of(out["village"], ["code", "parent_code", "name"]) == [
        ["11.01.01.2001", "11.01.01", "Keude Bakongan"],
        ["11.01.01.2002", "11.01.01", "Ujong Mangki"],
        ["11.01.01.2003", "11.01.01", "Ujong Padang"],
        ["11.01.01.2004", "11.01.01", "Gampong Drien"],
    ]
    assert out["island"].count() == 0


def test_area_six_column_variant(spark):
    grid = [
        ["K O D E", "NAMA", "COL2", "BACKUP_NAME", "COL4", "COL5"],
        ["", "", "", "", "", ""],
        ["11", "Aceh", "", "", "", ""],
        ["11.01", "", "", "Kabupaten Aceh Selatan", "", ""],
    ]
    # classifier needs 'nama provinsi' in col1; relax via direct pipeline:
    raw = raw_from_cell_grids(spark, [(1, 0, grid)])
    meta = classify_tables(raw).withColumn("extractor", F.lit("area"))
    routed = with_routing(raw, meta)
    from idn_area_etl_spark.operators.area import extract_areas

    areas = extract_areas(routed)
    assert rows_of(areas.where("entity = 'province'"), ["code", "name"]) == [["11", "Aceh"]]
    assert rows_of(areas.where("entity = 'regency'"), ["code", "parent_code", "name"]) == [
        ["11.01", "11", "Kabupaten Aceh Selatan"]
    ]


def test_province_first_seen_dedup_across_tables(spark):
    g1 = [
        ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
        ["", "", "", "", "", "", ""],
        ["11", "Aceh", "", "", "", "", ""],
        ["11", "Aceh", "", "", "", "", ""],
    ]
    g2 = [
        ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
        ["", "", "", "", "", "", ""],
        ["11", "Aceh Duplikat", "", "", "", "", ""],
        ["12", "Sumatera Utara", "", "", "", "", ""],
    ]
    raw = raw_from_cell_grids(spark, [(1, 0, g1), (2, 0, g2)])
    out = entity_frames(extract_all(raw))
    assert rows_of(out["province"], ["code", "name"]) == [
        ["11", "Aceh"],
        ["12", "Sumatera Utara"],
    ]


def test_island_extract(spark):
    raw = raw_from_cell_grids(spark, [(1, 0, island_grid())])
    out = entity_frames(extract_all(raw))["island"]
    cols = ["code", "regency_code", "coordinate", "is_populated",
            "is_outermost_small", "name"]
    assert rows_of(out, cols) == [
        ["11.01.40001", "11.01", "03°19'03.44\" N 097°07'41.73\" E", 0, 0,
         "Pulau Batukapal"],
        ["11.01.40002", "11.01", "03°24'55.00\" N 097°04'21.00\" E", 0, 0,
         "Pulau Batutunggal"],
        ["11.03.40005", "11.03", "05°06'37.00\" N 097°37'35.00\" E", 1, 0,
         "Pulau Nebukserdang"],
        ["11.06.40007", "11.06", "05°47'34.72\" N 094°58'26.09\" E", 0, 1,
         "Pulau Bateeleblah"],
    ]


def test_island_messy_and_regencyless(spark):
    raw = raw_from_cell_grids(spark, [(1, 0, island_messy_grid())])
    out = entity_frames(extract_all(raw))["island"]
    cols = ["code", "regency_code", "coordinate", "is_populated",
            "is_outermost_small", "name"]
    assert rows_of(out, cols) == [
        ["12.00.40001", "", "01°22'40.00\" N 120°53'04.00\" E", 1, 1, "Pulau 1"],
        ["12.00.40002", "", "03°31'33.49\" N 125°39'37.53\" E", 0, 1, "Pulau 2"],
        ["12.01.40003", "12.01", "01°18'47.00\" N 124°30'46.00\" E", 0, 0, "Pulau 3"],
        ["12.01.40004", "12.01", "01°22'40.00\" N 120°53'04.00\" E", 0, 0, "Pulau 4"],
    ]


def test_island_name_equals_code_rescue(spark):
    grid = [
        ["no", "kode pulau", "sebelah kode", "nama pulau", "koordinat"],
        ["1", "12.01.40003", "Pulau 3", "12.01.40003",
         "01°18'47.00\" U 124°30'46.00\" T"],
    ]
    raw = raw_from_cell_grids(spark, [(1, 0, grid)])
    out = entity_frames(extract_all(raw))["island"]
    [row] = out.collect()
    assert row["code"] == "12.01.40003"
    assert row["name"] == "Pulau 3"  # taken from idx_code + 1
    assert row["coordinate"] == "01°18'47.00\" N 124°30'46.00\" E"


def test_island_no_kode_column_yields_nothing(spark):
    grid = [
        ["no", "identifikasi", "nama pulau", "koordinat pulau"],
        ["1", "12.01.40009", "Pulau Q", "01°22'40.00\" U 120°53'04.00\" T"],
    ]
    raw = raw_from_cell_grids(spark, [(1, 0, grid)])
    # routed island (headers contain 'pulau' & 'kode'? no 'kode' header →
    # island classifier false) → nothing extracted anywhere
    out = entity_frames(extract_all(raw))
    assert all(df.count() == 0 for df in out.values())


def test_island_invalid_codes_filtered(spark):
    grid = [
        ["kode pulau", "nama pulau"],
        ["INVALID", "Pulau Invalid"],
        ["11.01", "Too short"],
        ["11.01.4000X", "Invalid char"],
    ]
    raw = raw_from_cell_grids(spark, [(1, 0, grid)])
    assert entity_frames(extract_all(raw))["island"].count() == 0


def test_island_status_column_missing_defaults_zero(spark):
    grid = [
        ["no", "kode pulau", "nama pulau", "koordinat", "berpenghuni", "terluar"],
        ["1", "12.01.40003", "Pulau A", "01°18'47.00\" U 124°30'46.00\" T", "1", "1"],
        ["2", "12.00.40001", "Pulau B", "03°31'33.49\" U 125°39'37.53\" T", "0", "1"],
    ]
    raw = raw_from_cell_grids(spark, [(1, 0, grid)])
    out = entity_frames(extract_all(raw))["island"]
    cols = ["code", "regency_code", "is_populated", "is_outermost_small"]
    assert rows_of(out, cols) == [
        ["12.01.40003", "12.01", 0, 0],
        ["12.00.40001", "", 0, 0],
    ]


def _area_table(*rows: tuple[str, str]) -> list[list[str]]:
    return [
        ["K O D E", "NAMA PROVINSI", "", "", "", "", ""],
        ["", "", "", "", "", "", ""],
    ] + [[code, name, "", "", "", "", ""] for code, name in rows]


def test_regency_code_in_two_tables_yields_two_rows(spark):
    # the reference dedups provinces only (_seen_provinces)
    raw = raw_from_cell_grids(spark, [
        (1, 0, _area_table(("11.01", "Kabupaten Aceh Selatan"))),
        (1, 1, _area_table(("11.01", "Kabupaten Aceh Selatan Lagi"))),
    ])
    out = entity_frames(extract_all(raw))
    assert rows_of(out["regency"], ["code", "parent_code", "name"]) == [
        ["11.01", "11", "Kabupaten Aceh Selatan"],
        ["11.01", "11", "Kabupaten Aceh Selatan Lagi"],
    ]


def test_unclassifiable_code_lengths_are_dropped(spark):
    raw = raw_from_cell_grids(spark, [(1, 0, _area_table(
        ("1", "Satu"), ("111", "Tiga"), ("11.0", "Empat"), ("11.01.0", "Tujuh"),
        ("11.01.01.20011", "Empat Belas"), ("12", "Sumatera Utara"),
    ))])
    areas = extract_all(raw)["area"]
    assert areas.columns == [
        "entity", "page_no", "table_no", "row_no", "code", "parent_code", "name",
    ]
    assert rows_of(areas, ["entity", "code", "parent_code", "name"]) == [
        ["province", "12", None, "Sumatera Utara"]
    ]


PROVINCE_PAGES = [
    [1, 0, _area_table(("11", "Aceh"), ("11.01", "Kabupaten Aceh Selatan"))],
    [1, 1, _area_table(("11", "Aceh Tabel Dua"), ("12", "Sumatera Utara"))],
    [2, 0, _area_table(("12", "Sumatera Utara Halaman Dua"), ("11", "Aceh Halaman Dua"))],
]


def test_cli_province_first_seen_with_one_page_chunks(spark, tmp_path):
    import json

    from idn_area_etl_spark.cli import main

    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps(PROVINCE_PAGES))
    dest = tmp_path / "out"
    rc = main([
        "doc.pdf", "-d", str(dest), "-o", "doc", "--chunk-size", "1",
        "--fixture-json", str(fixture),
    ])
    assert rc == 0
    assert (dest / "doc.province.csv").read_bytes() == (
        b"code,name\r\n11,Aceh\r\n12,Sumatera Utara\r\n"
    )


#: py4j commands to build ``extract_all`` plus the exact sink query for
#: the document below, about twice the 300 or so it takes.  Column-built
#: projections and one area branch per level took ~3,400.
MAX_BUILD_COMMANDS = 600


def test_sink_query_builds_in_few_py4j_commands(spark, py4j_commands):
    from idn_area_etl_spark.config import default_config
    from idn_area_etl_spark.writer import entity_sink_query

    grids = [(1, 0, area_grid()), (1, 1, island_grid()), (2, 0, island_messy_grid())]

    def build():
        raw = raw_from_cell_grids(spark, grids)
        return entity_sink_query(extract_all(raw), default_config())

    build()  # first-use lookups are not part of the steady cost
    with py4j_commands() as commands:
        build()
    assert 0 < len(commands) <= MAX_BUILD_COMMANDS


def test_repeated_cli_run_compiles_no_classes(spark, tmp_path):
    """A second ``cli.main`` run on the same document finds every
    generated class of the ETL path in the session's codegen cache."""
    import contextlib
    import io
    import json

    from idn_area_etl_spark.cli import main
    from idn_area_etl_spark.session import compiled_classes

    fixture = tmp_path / "tables.json"
    fixture.write_text(json.dumps(
        [[1, 0, area_grid()], [1, 1, island_grid()], [2, 0, island_messy_grid()]]
    ))

    def run(dest):
        with contextlib.redirect_stdout(io.StringIO()):
            assert main([
                "doc.pdf", "-d", str(tmp_path / dest), "-o", "doc",
                "--fixture-json", str(fixture),
            ]) == 0

    run("first")
    before = compiled_classes(spark)
    run("second")
    assert compiled_classes(spark) == before
