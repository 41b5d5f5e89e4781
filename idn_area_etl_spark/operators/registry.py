"""Table classification & first-match-wins extractor dispatch.

The reference offers each parsed table to a list of extractors and the
first whose ``matches()`` returns True consumes it
(cli.py:185-189, list order cli.py:157-160: area before island).

Spark-first equivalent: a single metadata pass computes, per
``(page_no, table_no)``, the classifier verdict and the per-table
column layout; the tiny result is broadcast-joined back onto the
long-form raw rows.  Precedence is a ``when`` chain in list order, so
a table matched by the area classifier is never offered to the island
extractor.

Scale notes:
- The metadata pass reads only ``row_no < 4`` (filter pushed to the
  scan) and aggregates one row per table — negligible vs. the data.
- The join back is an explicit ``broadcast``: no shuffle of the raw
  rows, which is the 100 TB side of the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idn_area_etl_spark.functions.cleaning import normalize_words_sql
from idn_area_etl_spark.operators.area import AREA_LEVELS

#: classifier precedence, mirroring the reference's extractor list order
EXTRACTOR_PRECEDENCE = ["area", "island"]

#: rows scanned by classifiers / header locator (extractors.py:199-203,
#: 253-257): matches() scans 3, the island header locator scans 4.
CLASSIFY_SCAN_ROWS = 3
HEADER_SCAN_ROWS = 4


#: column-map inference (extractors.py:205-242): header predicate per index
_COLUMN_RULES = {
    "idx_code": "contains(h, 'kode') AND contains(h, 'pulau')",
    "idx_name": "contains(h, 'nama')",
    "idx_coord": "contains(h, 'koordinat') OR contains(h, 'kordinat')",
    "idx_status": (
        "contains(h, 'bp/tbp') OR h IN ('bp', 'tbp', 'status')"
        " OR contains(h, 'keterangan')"
    ),
    "idx_info": "contains(h, 'keterangan') OR h = 'ket'",
}


def classify_tables(raw: DataFrame) -> DataFrame:
    """One row per (page_no, table_no) with routing + column layout.

    Output columns:
      extractor     'area' | 'island' | NULL (unrouted)
      ncols         width of the table's first row
      header_idx    island header row_no (NULL for area tables)
      idx_code/idx_name/idx_coord/idx_status/idx_info
                    1-based positions into ``cells`` (island only)

    Every array lambda is SQL text, parsed by the JVM in one call.
    """
    head = raw.filter(F.col("row_no") < HEADER_SCAN_ROWS)
    grouped = head.groupBy("page_no", "table_no").agg(
        F.sort_array(F.collect_list(F.struct("row_no", "cells"))).alias("rows")
    )
    # header normalization shared by both classifiers
    # (extractors.py:117, 188-190): de-space single-char tokens, lower
    g = grouped.selectExpr(
        "page_no",
        "table_no",
        "rows[0].cells AS first_cells",
        "rows[0].row_no AS first_row_no",
        "transform(rows, r -> named_struct('row_no', r.row_no, 'headers',"
        f" transform(r.cells, v -> lower({normalize_words_sql('v')})))) AS nrows",
    ).selectExpr(
        "*",
        # rows passing the island header rule (extractors.py:193-196):
        # some header contains 'kode pulau', OR equals 'kode' while
        # 'pulau' appears anywhere.  Built once for the classifier
        # (first 3 rows) and the header locator (first 4).
        "filter(nrows, r -> exists(r.headers, h -> contains(h, 'kode pulau')"
        " OR (h = 'kode' AND contains(array_join(r.headers, ' '), 'pulau'))))"
        " AS island_rows",
    )
    # Area classifier (extractors.py:114-122): table's first row is the
    # header row: col0 == 'kode' and 'nama provinsi' within col1.
    is_area = (
        "first_row_no = 0 AND size(first_cells) >= 2"
        " AND nrows[0].headers[0] = 'kode'"
        " AND contains(nrows[0].headers[1], 'nama provinsi')"
    )
    is_island = f"exists(island_rows, r -> r.row_no < {CLASSIFY_SCAN_ROWS})"
    # 1-based index of the first island header satisfying a rule; NULL
    # if none (reference ``_infer_columns`` find_first, extractors.py:219-223)
    headers = "get(island_rows, 0).headers"
    return g.selectExpr(
        "page_no",
        "table_no",
        f"CASE WHEN {is_area} THEN 'area' WHEN {is_island} THEN 'island' END"
        " AS extractor",
        "size(first_cells) AS ncols",
        f"CASE WHEN {is_island} THEN get(island_rows, 0).row_no END AS header_idx",
        *[
            f"nullif(array_position(transform({headers}, h -> {rule}), true), 0)"
            f" AS {name}"
            for name, rule in _COLUMN_RULES.items()
        ],
    )


def with_routing(raw: DataFrame, meta: DataFrame | None = None) -> DataFrame:
    """Broadcast-join per-table routing metadata onto the raw rows."""
    if meta is None:
        meta = classify_tables(raw)
    return raw.join(F.broadcast(meta), ["page_no", "table_no"], "left")


def extract_all(raw: DataFrame) -> dict[str, DataFrame]:
    """Run the full classify → route → extract dataflow.

    Returns one frame per extractor, keyed by ``EXTRACTOR_PRECEDENCE``:
    ``'area'`` holds every area level tagged by ``entity``
    (``area.AREA_COLUMNS``) and ``'island'`` the islands.  Both read
    one routed plan and nothing is cached: the exact CSV sink reads
    the two as the two branches of one query (writer.py).
    :func:`entity_frames` gives the per-entity view.
    """
    from idn_area_etl_spark.operators.area import extract_areas
    from idn_area_etl_spark.operators.island import extract_islands

    routed = with_routing(raw)
    return {"area": extract_areas(routed), "island": extract_islands(routed)}


def entity_frames(extracted: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The five entity frames of an :func:`extract_all` result, keyed
    'province', 'regency', 'district', 'village', 'island' (reference
    Area literal, config.py:7): each area level is a filter of the one
    area frame, with ``parent_code`` except for provinces.  Consumers
    that act on each frame separately re-execute the shared plan per
    action (SURVEY.md §2.1 S6).
    """
    areas = extracted["area"]
    out = {
        name: areas.where(f"entity = '{name}'").select(
            "page_no", "table_no", "row_no", "code",
            *([] if parent_len is None else ["parent_code"]), "name",
        )
        for name, _len, parent_len in AREA_LEVELS
    }
    out["island"] = extracted["island"]
    return out
