"""Long-form raw-table representation.

The reference's unit of work is a camelot-parsed PDF table: an
all-string pandas DataFrame with positional columns and headers inside
the data (SURVEY.md §1.1).  Spark wants one schema per DataFrame, so
tables of *varying width* are normalized at ingestion into long form:

    (page_no int, table_no int, row_no int, cells array<string>)

- ``(page_no, table_no, row_no)`` is the explicit document-order
  lineage the reference gets implicitly from sequential processing
  (SURVEY.md §2.6 O2) — every sink orders by it, and first-seen dedup
  windows over it.
- ``cells`` carries the positional row; per-table column maps are
  resolved by the classifier pass (operators/registry.py) and applied
  with null-safe ``get()``.

At scale this shape is ideal: ingestion (``binaryFile`` +
``mapInPandas`` over a page manifest) emits it directly, it partitions
by page ranges with no skew, and the per-table metadata pass touches
only ``row_no < 4``.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

RAW_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("table_no", T.IntegerType(), False),
        T.StructField("row_no", T.IntegerType(), False),
        T.StructField("cells", T.ArrayType(T.StringType()), False),
    ]
)

_RAW_ARROW_SCHEMA = to_arrow_schema(RAW_TABLE_SCHEMA)


def raw_from_cell_grids(
    spark: SparkSession,
    tables: Iterable[tuple[int, int, Sequence[Sequence[object]]]],
) -> DataFrame:
    """Build the long-form raw DataFrame from in-memory cell grids.

    ``tables`` yields ``(page_no, table_no, grid)`` where ``grid`` is a
    list of rows of cells (any type; stringified like the reference's
    ``astype(str)``).  This is the test-side stand-in for the PDF
    ingestion stage, mirroring how the reference tests fabricate
    camelot frames instead of parsing PDFs.

    The rows travel to the JVM as one Arrow table, so the plan leaf is
    a ``LocalRelation``: every scan of it reads JVM memory, where a
    list of tuples would become a pickled Python RDD that each scan
    re-reads through Python workers.
    """
    columns: dict[str, list] = {name: [] for name in _RAW_ARROW_SCHEMA.names}
    for page_no, table_no, grid in tables:
        for row_no, row in enumerate(grid):
            columns["page_no"].append(page_no)
            columns["table_no"].append(table_no)
            columns["row_no"].append(row_no)
            columns["cells"].append([str(c) for c in row])
    return spark.createDataFrame(
        pa.table(columns, schema=_RAW_ARROW_SCHEMA), RAW_TABLE_SCHEMA
    )
