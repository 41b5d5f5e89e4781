"""Entity CSV sink: golden-exact single files.

The reference writes each entity to one CSV via Python's ``csv``
module with minimal quoting, doubled quotes, CRLF line endings, and a
header row even for zero-row runs (writer.py:34-46, golden fixtures).
Spark's CSV writer differs in quoting details and produces multi-part
output, so :func:`write_all_entities` uses Python ``csv.writer``s fed
by ONE query (:func:`entity_sink_query`): the area frame, which holds
every area level tagged by ``entity``, and the island frame are
unioned as (sink, lineage, stringified values), sorted in one
single-partition sort and streamed once through ``toLocalIterator()``;
each row goes to its entity's file.  The query has two branches, so
each area row is routed, cleaned and classified once for all four
area files.  Byte parity with the reference; every row passes through
one task and this Python process, so outputs at scale go through
:func:`idn_area_etl_spark.sinks.write_partitioned_parquet` instead.
:func:`write_entity_csv_exact` writes one frame the same way.
"""

from __future__ import annotations

import csv
from contextlib import ExitStack
from pathlib import Path

from pyspark.sql import DataFrame

from idn_area_etl_spark.config import AREAS
from idn_area_etl_spark.operators.area import AREA_LEVELS

#: lineage columns carried for document order (SURVEY.md §2.6 O2)
ORDER_COLS = ["page_no", "table_no", "row_no"]

#: area levels, in sink order, and those with a parent code
_LEVELS = [name for name, _len, _parent in AREA_LEVELS]
_PARENTED = {name for name, _len, parent_len in AREA_LEVELS if parent_len}


def _values(columns: list[str]) -> str:
    """The CSV cells of a row as one string array.  Flags and other
    non-strings serialize like the reference: ints as '0'/'1'
    (extractors.py:294-296), NULL as ''."""
    cells = ", ".join(f"coalesce(CAST(`{c}` AS string), '')" for c in columns)
    return f"array({cells})"


def _sorted(rows: DataFrame, order: list[str]) -> DataFrame:
    """``(_sink, _values)`` rows; with a non-empty ``order``, in one
    partition sorted by sink then ``order``."""
    if order:
        rows = rows.repartition(1).sortWithinPartitions("_sink", *order)
    return rows.select("_sink", "_values")


def _write_csvs(rows: DataFrame, files: list[tuple[Path | str, list[str]]]) -> list[int]:
    """Stream ``(_sink, _values)`` rows once into one golden-exact CSV
    per ``(path, headers)`` of ``files``, ``_sink`` indexing ``files``;
    returns the data row count of each file.

    A header row is always written — zero-match runs leave header-only
    files, as asserted by the reference's tests
    (tests/test_extractors.py:735-744).
    """
    counts = [0] * len(files)
    with ExitStack() as stack:
        writers = []
        for path, headers in files:
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
    """Write one golden-exact CSV of ``df``'s ``headers`` columns;
    returns the data row count.  Rows follow ``order`` (document
    lineage by default; an empty ``order`` keeps the partition order)."""
    order = ORDER_COLS if order is None else order
    rows = df.selectExpr("0 AS _sink", *order, f"{_values(headers)} AS _values")
    return _write_csvs(_sorted(rows, order), [(path, headers)])[0]


def _entity_columns(entity: str, headers: list[str]) -> list[str]:
    """The extracted column behind each output header: an area level's
    parent header (its second, e.g. ``province_code``) reads
    ``parent_code``; every other header names its column."""
    parented = entity in _PARENTED
    return ["parent_code" if parented and i == 1 else h for i, h in enumerate(headers)]


def entity_sink_query(extracted: dict[str, DataFrame], config) -> DataFrame:
    """The one query behind :func:`write_all_entities`: ``(_sink,
    _values)`` rows of an ``extract_all`` result, ``_sink`` being the
    entity's position in ``AREAS``, in one partition sorted by sink then
    document order.  Two branches: the area frame, whose sink and
    values are a ``CASE`` over ``entity``, and the island frame."""

    def values(entity: str) -> str:
        return _values(_entity_columns(entity, config.data[entity].output_headers))

    sink = " ".join(f"WHEN '{e}' THEN {AREAS.index(e)}" for e in _LEVELS)
    cells = " ".join(f"WHEN '{e}' THEN {values(e)}" for e in _LEVELS)
    areas = extracted["area"].selectExpr(
        f"CASE entity {sink} END AS _sink", *ORDER_COLS, f"CASE entity {cells} END AS _values"
    )
    islands = extracted["island"].selectExpr(
        f"{AREAS.index('island')} AS _sink", *ORDER_COLS, f"{values('island')} AS _values"
    )
    return _sorted(areas.union(islands), ORDER_COLS)


def write_all_entities(
    extracted: dict[str, DataFrame],
    destination: Path | str,
    output_name: str,
    config,
) -> dict[str, int]:
    """Multi-sink fan-out (SURVEY.md §2.1 S6): write every entity of an
    ``extract_all`` result from one query.  Returns per-entity row
    counts."""
    destination = Path(destination)
    destination.mkdir(parents=True, exist_ok=True)
    files = [
        (
            destination / f"{output_name}.{config.data[e].filename_suffix}.csv",
            config.data[e].output_headers,
        )
        for e in AREAS
    ]
    return dict(zip(AREAS, _write_csvs(entity_sink_query(extracted, config), files)))
