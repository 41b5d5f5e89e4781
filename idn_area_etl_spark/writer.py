"""Entity CSV sinks: golden-exact single-file mode + distributed mode.

The reference writes each entity to one CSV via Python's ``csv``
module with minimal quoting, doubled quotes, CRLF line endings, and a
header row even for zero-row runs (writer.py:34-46, golden fixtures).
Spark's CSV writer differs in quoting details and produces multi-part
output, so two sinks exist:

- :func:`_write_csvs_exact` — Python ``csv.writer``s fed by ONE
  query: the entity frames are unioned as (sink, lineage, stringified
  values), sorted in one single-partition sort and streamed once
  through ``toLocalIterator()``; each row goes to its entity's file.
  The shared upstream (classify → route → extract) therefore runs
  once for all five files instead of once per file.  Byte parity with
  the reference; use for golden comparison / modest outputs (every
  row passes through one task and this Python process).
  :func:`write_entity_csv_exact` is its one-file case.
- :func:`write_entity_csv_distributed` — ``df.write.csv`` with header,
  for scale: one file per partition, ``maxRecordsPerFile`` mapped from
  the config's batch_size heritage.
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
    order = ORDER_COLS if order is None else order
    rows = reduce(
        DataFrame.union,
        [
            df.select(
                F.lit(i).alias("_sink"),
                *order,
                F.array(*[_as_csv_cell(h) for h in headers]).alias("_values"),
            )
            for i, (df, _path, headers) in enumerate(sinks)
        ],
    )
    if order:
        rows = rows.repartition(1).sortWithinPartitions("_sink", *order)
    counts = [0] * len(sinks)
    with ExitStack() as stack:
        writers = []
        for _df, path, headers in sinks:
            fh = stack.enter_context(
                open(path, "w", newline="", encoding="utf-8", buffering=1048576)
            )
            writers.append(csv.writer(fh))
            writers[-1].writerow(headers)
        for sink, values in rows.select("_sink", "_values").toLocalIterator():
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


def write_entity_csv_distributed(
    df: DataFrame,
    path: Path | str,
    headers: list[str],
    order: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Scale-mode CSV sink: parallel writers, optional within-partition
    ordering (sortWithinPartitions keeps document order per file
    without a global sort barrier)."""
    order = ORDER_COLS if order is None else order
    ordered = df.sortWithinPartitions(*order) if order else df
    out = ordered.select(*[_as_csv_cell(h).alias(h) for h in headers])
    writer = out.write.mode("overwrite").option("header", True)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.csv(str(path))


def write_all_entities(
    entities: dict[str, DataFrame],
    destination: Path | str,
    output_name: str,
    config,
    exact: bool = True,
) -> dict[str, int]:
    """Multi-sink fan-out (SURVEY.md §2.1 S6): write every entity from
    one extraction pass.  Returns per-entity row counts (-1 each in
    distributed mode, which does not count)."""
    destination = Path(destination)
    destination.mkdir(parents=True, exist_ok=True)
    sinks = []
    for area, df in entities.items():
        dc = config.data[area]
        if "parent_code" in df.columns:
            # entity outputs name their parent column per level
            # (province_code / regency_code / district_code)
            df = df.withColumnRenamed("parent_code", dc.output_headers[1])
        target = destination / f"{output_name}.{dc.filename_suffix}.csv"
        sinks.append((df, target, dc.output_headers))
    if exact:
        return dict(zip(entities, _write_csvs_exact(sinks)))
    for (df, target, headers), area in zip(sinks, entities):
        write_entity_csv_distributed(
            df, target, headers,
            max_records_per_file=config.data[area].batch_size,
        )
    return {area: -1 for area in entities}
