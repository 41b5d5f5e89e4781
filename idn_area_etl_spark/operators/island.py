"""Island extraction pipeline.

Re-expresses the reference ``IslandExtractor`` (extractors.py:179-298)
declaratively: the per-table header row + keyword column map come from
the classifier metadata (registry.py), and the per-row loop
(extractors.py:267-296) becomes a single select over the routed rows:

  P6 code-validity filter → F2/F1 name cleanup + P8 next-to-code
  rescue → F4 coordinate canonicalization → P10 flag derivation →
  P11 parent-from-code.

Everything is Spark SQL text over native expressions — no Python in
the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from idn_area_etl_spark.functions.cleaning import (
    clean_name_sql,
    fix_wrapped_name_sql,
    format_coordinate_sql,
    sql_let,
    sql_string,
    strip_sql,
)

#: island code shape 'NN.NN.NNNNN' (utils.py:20)
ISLAND_CODE_PATTERN = r"^\d{2}\.\d{2}\.\d{5}$"

_LINEAGE = ["page_no", "table_no", "row_no"]

_DOT, _BP = sql_string(r"\."), sql_string(r"^\s*BP\b")


def _val(idx: str) -> str:
    """Reference ``val(i)`` (extractors.py:269-272): positional cell by
    1-based index expression, stripped, '' when the index is NULL/overflow."""
    return strip_sql(f"coalesce(get(cells, CAST({idx} - 1 AS int)), '')")


def island_parent_code_sql(code: str) -> str:
    """P11 (extractors.py:244-248): 'NN.NN.NNNNN' → 'NN.NN'; the
    regency-less 'NN.00.NNNNN' form yields '' (serialized NULL)."""
    return (
        f"CASE WHEN split({code}, {_DOT})[1] = '00' THEN ''"
        f" ELSE substring({code}, 1, 5) END"
    )


def extract_islands(routed: DataFrame) -> DataFrame:
    """Routed long-form rows → island entity DataFrame.

    Output: lineage + (code, regency_code, coordinate, is_populated,
    is_outermost_small, name) matching the reference's island schema
    (extractors.py:181, 294-296); flags are ints here and stringified
    only at the CSV sink.
    """
    rows = routed.where("extractor = 'island' AND row_no > header_idx")
    # P8 rescue cell (extractors.py:279-284): right of the code column
    cells = rows.selectExpr(
        *_LINEAGE,
        f"{_val('idx_code')} AS code",
        f"{_val('idx_name')} AS name_cell",
        f"{_val('idx_code + 1')} AS rescue_cell",
        f"{_val('idx_coord')} AS coord_cell",
        f"upper({_val('idx_status')}) AS status",
        f"upper({_val('idx_info')}) AS info",
    ).where(f"code RLIKE {sql_string(ISLAND_CODE_PATTERN)}")

    clean = clean_name_sql(fix_wrapped_name_sql("v"))
    names = cells.selectExpr(
        *_LINEAGE,
        "code",
        f"transform(array(name_cell, rescue_cell), v -> {clean}) AS names",
        f"{sql_let('coord_cell', 'v', format_coordinate_sql('v'))} AS coordinate",
        "status",
        "info",
    )
    return names.selectExpr(
        *_LINEAGE,
        "code",
        f"{island_parent_code_sql('code')} AS regency_code",
        "coordinate",
        # P10 (extractors.py:290-291)
        f"CAST(status RLIKE {_BP} AS int) AS is_populated",
        "CAST(contains(info, 'PPKT') AS int) AS is_outermost_small",
        # P8: the cleaned name equals the code → take the cleaned rescue cell
        "CASE WHEN names[0] = code AND names[1] != '' AND names[1] != code"
        " THEN names[1] ELSE names[0] END AS name",
    )
