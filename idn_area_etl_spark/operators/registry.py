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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idn_area_etl_spark.functions.cleaning import map_sql, normalize_words_sql

#: classifier precedence, mirroring the reference's extractor list order
EXTRACTOR_PRECEDENCE = ["area", "island"]

#: rows scanned by classifiers / header locator (extractors.py:199-203,
#: 253-257): matches() scans 3, the island header locator scans 4.
CLASSIFY_SCAN_ROWS = 3
HEADER_SCAN_ROWS = 4


def _norm_headers(cells: Column) -> Column:
    """Header normalization shared by both classifiers
    (extractors.py:117, 188-190): de-space single-char tokens, lower."""
    return map_sql(cells, lambda x: f"lower({normalize_words_sql(x)})")


def _is_island_header(headers: Column) -> Column:
    """Island header rule (extractors.py:193-196): some header contains
    'kode pulau', OR equals 'kode' while 'pulau' appears anywhere."""
    joined = F.array_join(headers, " ")
    return F.exists(
        headers,
        lambda h: h.contains("kode pulau")
        | ((h == F.lit("kode")) & joined.contains("pulau")),
    )


def _find_first_index(headers: Column, pred) -> Column:
    """1-based index of the first header satisfying ``pred``; NULL if
    none (reference ``_infer_columns`` find_first, extractors.py:219-223)."""
    return F.nullif(
        F.array_position(F.transform(headers, pred), F.lit(True)), F.lit(0)
    )


def classify_tables(raw: DataFrame) -> DataFrame:
    """One row per (page_no, table_no) with routing + column layout.

    Output columns:
      extractor     'area' | 'island' | NULL (unrouted)
      ncols         width of the table's first row
      header_idx    island header row_no (NULL for area tables)
      idx_code/idx_name/idx_coord/idx_status/idx_info
                    1-based positions into ``cells`` (island only)
    """
    head = raw.filter(F.col("row_no") < HEADER_SCAN_ROWS)
    grouped = head.groupBy("page_no", "table_no").agg(
        F.sort_array(F.collect_list(F.struct("row_no", "cells"))).alias("rows")
    )

    rows = F.col("rows")
    norm_rows = F.transform(
        rows,
        lambda r: F.struct(
            r["row_no"].alias("row_no"),
            _norm_headers(r["cells"]).alias("headers"),
        ),
    )
    g = grouped.select(
        "page_no",
        "table_no",
        rows[0]["cells"].alias("first_cells"),
        rows[0]["row_no"].alias("first_row_no"),
        norm_rows.alias("nrows"),
    )

    first_headers = F.col("nrows")[0]["headers"]
    # Area classifier (extractors.py:114-122): table's first row is the
    # header row: col0 == 'kode' and 'nama provinsi' within col1.
    is_area = (
        (F.col("first_row_no") == 0)
        & (F.size("first_cells") >= 2)
        & (first_headers[0] == F.lit("kode"))
        & first_headers[1].contains("nama provinsi")
    )

    classify_rows = F.filter(
        F.col("nrows"), lambda r: r["row_no"] < CLASSIFY_SCAN_ROWS
    )
    is_island = F.exists(classify_rows, lambda r: _is_island_header(r["headers"]))

    # Island header row located over 4 rows (extractors.py:253-257).
    header_row = F.get(
        F.filter(F.col("nrows"), lambda r: _is_island_header(r["headers"])), 0
    )
    headers = header_row["headers"]

    meta = g.select(
        "page_no",
        "table_no",
        F.when(is_area, F.lit("area"))
        .when(is_island, F.lit("island"))
        .alias("extractor"),
        F.size("first_cells").alias("ncols"),
        F.when(is_island, header_row["row_no"]).alias("header_idx"),
        # Column-map inference (extractors.py:205-242).
        _find_first_index(
            headers, lambda h: h.contains("kode") & h.contains("pulau")
        ).alias("idx_code"),
        _find_first_index(headers, lambda h: h.contains("nama")).alias("idx_name"),
        _find_first_index(
            headers, lambda h: h.contains("koordinat") | h.contains("kordinat")
        ).alias("idx_coord"),
        _find_first_index(
            headers,
            lambda h: h.contains("bp/tbp")
            | h.isin("bp", "tbp", "status")
            | h.contains("keterangan"),
        ).alias("idx_status"),
        _find_first_index(
            headers, lambda h: h.contains("keterangan") | (h == F.lit("ket"))
        ).alias("idx_info"),
    )
    return meta


def with_routing(raw: DataFrame, meta: DataFrame | None = None) -> DataFrame:
    """Broadcast-join per-table routing metadata onto the raw rows."""
    if meta is None:
        meta = classify_tables(raw)
    return raw.join(F.broadcast(meta), ["page_no", "table_no"], "left")


def extract_all(raw: DataFrame) -> dict[str, DataFrame]:
    """Run the full classify → route → extract dataflow.

    Returns the five entity DataFrames keyed 'province', 'regency',
    'district', 'village', 'island' (reference Area literal,
    config.py:7).  They share one routed plan and nothing is cached:
    the exact CSV sink runs all five as one query (writer.py), and
    other consumers that act on each frame separately re-execute the
    shared plan per action (SURVEY.md §2.1 S6).
    """
    from idn_area_etl_spark.operators.area import extract_areas
    from idn_area_etl_spark.operators.island import extract_islands

    routed = with_routing(raw)
    out = extract_areas(routed)
    out["island"] = extract_islands(routed)
    return out
