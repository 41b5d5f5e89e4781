"""Entity CSV sink: golden-exact single files.

The reference writes each entity to one CSV via Python's ``csv``
module with minimal quoting, doubled quotes, CRLF line endings, and a
header row even for zero-row runs (writer.py:34-46, golden fixtures).
Spark's CSV writer differs in quoting details and produces multi-part
output, so :func:`_write_csvs_exact` uses Python ``csv.writer``s fed
by ONE query: the entity frames are unioned as (sink, lineage,
stringified values), sorted in one single-partition sort and streamed
once through ``toLocalIterator()``; each row goes to its entity's
file.  The shared upstream (classify → route → extract) therefore
runs once for all five files instead of once per file.  Byte parity
with the reference; every row passes through one task and this Python
process, so outputs at scale go through
:func:`idn_area_etl_spark.sinks.write_partitioned_parquet` instead.
:func:`write_entity_csv_exact` is its one-file case.
"""

from __future__ import annotations

import csv
from contextlib import ExitStack
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: lineage columns carried for document order (SURVEY.md §2.6 O2)
ORDER_COLS = ["page_no", "table_no", "row_no"]


def _as_csv_cell(column: str) -> Column:
    """Flags and other non-strings serialize like the reference: ints
    as '0'/'1' (extractors.py:294-296), NULL as ''."""
    return F.coalesce(F.col(column).cast("string"), F.lit(""))


def sink_query(
    sinks: list[tuple[DataFrame, list[str]]],
    order: list[str] | None = None,
) -> DataFrame:
    """The one query behind the exact CSV sink: ``(_sink, _values)``
    rows of every ``(df, headers)`` sink, ``_sink`` being its index;
    with a non-empty ``order``, in one partition sorted by sink then
    ``order``."""
    order = ORDER_COLS if order is None else order
    rows = reduce(
        DataFrame.union,
        [
            df.select(
                F.lit(i).alias("_sink"),
                *order,
                F.array(*[_as_csv_cell(h) for h in headers]).alias("_values"),
            )
            for i, (df, headers) in enumerate(sinks)
        ],
    )
    if order:
        rows = rows.repartition(1).sortWithinPartitions("_sink", *order)
    return rows.select("_sink", "_values")


def _write_csvs_exact(
    sinks: list[tuple[DataFrame, Path | str, list[str]]],
    order: list[str] | None = None,
) -> list[int]:
    """Write one golden-exact CSV per ``(df, path, headers)`` sink from
    a single Spark query; returns the data row count of each sink.

    Rows of each file follow ``order`` (document lineage by default;
    an empty ``order`` keeps each frame's partition order).  A header
    row is always written — zero-match runs leave header-only files,
    as asserted by the reference's tests
    (tests/test_extractors.py:735-744).
    """
    rows = sink_query([(df, headers) for df, _path, headers in sinks], order)
    counts = [0] * len(sinks)
    with ExitStack() as stack:
        writers = []
        for _df, path, headers in sinks:
            fh = stack.enter_context(
                open(path, "w", newline="", encoding="utf-8", buffering=1048576)
            )
            writers.append(csv.writer(fh))
            writers[-1].writerow(headers)
        for sink, values in rows.toLocalIterator():
            writers[sink].writerow(values)
            counts[sink] += 1
    return counts


def write_entity_csv_exact(
    df: DataFrame,
    path: Path | str,
    headers: list[str],
    order: list[str] | None = None,
) -> int:
    """Write one golden-exact CSV; returns the data row count."""
    return _write_csvs_exact([(df, path, headers)], order)[0]


def entity_sinks(
    entities: dict[str, DataFrame], config
) -> dict[str, tuple[DataFrame, list[str]]]:
    """Each entity frame with its output headers, its parent column
    renamed per level (province_code / regency_code / district_code)."""
    sinks = {}
    for area, df in entities.items():
        headers = config.data[area].output_headers
        if "parent_code" in df.columns:
            df = df.withColumnRenamed("parent_code", headers[1])
        sinks[area] = (df, headers)
    return sinks


def write_all_entities(
    entities: dict[str, DataFrame],
    destination: Path | str,
    output_name: str,
    config,
) -> dict[str, int]:
    """Multi-sink fan-out (SURVEY.md §2.1 S6): write every entity from
    one extraction pass.  Returns per-entity row counts."""
    destination = Path(destination)
    destination.mkdir(parents=True, exist_ok=True)
    sinks = [
        (df, destination / f"{output_name}.{config.data[area].filename_suffix}.csv", headers)
        for area, (df, headers) in entity_sinks(entities, config).items()
    ]
    return dict(zip(entities, _write_csvs_exact(sinks)))
