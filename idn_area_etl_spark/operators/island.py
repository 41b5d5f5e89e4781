"""Island extraction pipeline.

Re-expresses the reference ``IslandExtractor`` (extractors.py:179-298)
declaratively: the per-table header row + keyword column map come from
the classifier metadata (registry.py), and the per-row loop
(extractors.py:267-296) becomes a single select over the routed rows:

  P6 code-validity filter → F2/F1 name cleanup + P8 next-to-code
  rescue → F4 coordinate canonicalization → P10 flag derivation →
  P11 parent-from-code.

Everything is native column expressions — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idn_area_etl_spark.functions.cleaning import (
    clean_name_sql,
    fix_wrapped_name_sql,
    format_coordinate,
    map_sql,
    py_strip,
)

#: island code shape 'NN.NN.NNNNN' (utils.py:20)
ISLAND_CODE_PATTERN = r"^\d{2}\.\d{2}\.\d{5}$"

_LINEAGE = ["page_no", "table_no", "row_no"]


def _val(idx_col: str | Column) -> Column:
    """Reference ``val(i)`` (extractors.py:269-272): positional cell by
    1-based index column, stripped, '' when the index is NULL/overflow."""
    idx = F.col(idx_col) if isinstance(idx_col, str) else idx_col
    return py_strip(
        F.coalesce(
            F.when(idx.isNotNull(), F.get("cells", (idx - 1).cast("int"))),
            F.lit(""),
        )
    )


def island_parent_code(code: Column) -> Column:
    """P11 (extractors.py:244-248): 'NN.NN.NNNNN' → 'NN.NN'; the
    regency-less 'NN.00.NNNNN' form yields '' (serialized NULL)."""
    return F.when(
        F.split(code, r"\.")[1] == "00", F.lit("")
    ).otherwise(F.substring(code, 1, 5))


def extract_islands(routed: DataFrame) -> DataFrame:
    """Routed long-form rows → island entity DataFrame.

    Output: lineage + (code, regency_code, coordinate, is_populated,
    is_outermost_small, name) matching the reference's island schema
    (extractors.py:181, 294-296); flags are ints here and stringified
    only at the CSV sink.
    """
    rows = routed.filter(
        (F.col("extractor") == "island") & (F.col("row_no") > F.col("header_idx"))
    )
    # P8 rescue cell (extractors.py:279-284): right of the code column
    cells = rows.select(
        *_LINEAGE,
        _val("idx_code").alias("code"),
        _val("idx_name").alias("name_cell"),
        _val(F.col("idx_code") + 1).alias("rescue_cell"),
        _val("idx_coord").alias("coord_cell"),
        F.upper(_val("idx_status")).alias("status"),
        F.upper(_val("idx_info")).alias("info"),
    ).filter(F.col("code").rlike(ISLAND_CODE_PATTERN))

    names = cells.select(
        *_LINEAGE,
        "code",
        map_sql(
            F.array("name_cell", "rescue_cell"),
            lambda x: clean_name_sql(fix_wrapped_name_sql(x)),
        ).alias("names"),
        format_coordinate(F.col("coord_cell")).alias("coordinate"),
        "status",
        "info",
    )
    # P8: the cleaned name equals the code → take the cleaned rescue cell
    code, base_name, rescue = F.col("code"), F.col("names")[0], F.col("names")[1]
    name = F.when(
        (base_name == code) & (rescue != "") & (rescue != code), rescue
    ).otherwise(base_name)

    return names.select(
        *_LINEAGE,
        "code",
        island_parent_code(code).alias("regency_code"),
        "coordinate",
        # P10 (extractors.py:290-291)
        F.col("status").rlike(r"^\s*BP\b").cast("int").alias("is_populated"),
        F.col("info").contains("PPKT").cast("int").alias("is_outermost_small"),
        name.alias("name"),
    )
