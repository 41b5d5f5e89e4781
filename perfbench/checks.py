"""Output checks.  Each returns a list of problems; empty means correct.

They take plain Python values (CSV text, the curate CLI's stats line,
collected result rows), so ``test_checks.py`` can feed them tampered
outputs without a Spark session.
"""

from __future__ import annotations

import csv
import io
from pathlib import Path

from perfbench.inputs import ENTITY_COLUMNS, Planted


def read_entity_csvs(dest: Path, output_name: str) -> dict[str, str]:
    return {
        entity: (dest / f"{output_name}.{entity}.csv").read_text(encoding="utf-8")
        for entity in ENTITY_COLUMNS
    }


def check_etl(csv_text: dict[str, str], planted: Planted) -> list[str]:
    """Per entity: header, row count, and every planted field in document
    order.  Fields planted as ``None`` (wrapped or row-numbered names,
    messy coordinates) are not compared."""
    problems = []
    for entity, columns in ENTITY_COLUMNS.items():
        rows = list(csv.reader(io.StringIO(csv_text[entity], newline="")))
        if not rows or rows[0] != columns:
            problems.append(f"{entity}: header {rows[:1]} != {columns}")
            continue
        got = [dict(zip(columns, r)) for r in rows[1:]]
        want = planted.rows[entity]
        if len(got) != len(want):
            problems.append(f"{entity}: {len(got)} rows, planted {len(want)}")
            continue
        for i, (g, w) in enumerate(zip(got, want)):
            for field, value in w.items():
                if value is not None and g.get(field) != value:
                    problems.append(
                        f"{entity} row {i}: {field}={g.get(field)!r}, planted {value!r}"
                    )
    return problems


def check_curate(stats: dict, n_docs: int, n_originals: int) -> list[str]:
    """The curate CLI's stats line: every original kept, every planted
    near-duplicate removed, splits summing to ``kept``."""
    problems = []
    if stats.get("input_docs") != n_docs:
        problems.append(f"input_docs {stats.get('input_docs')} != {n_docs}")
    if stats.get("kept") != n_originals:
        problems.append(f"kept {stats.get('kept')} != planted originals {n_originals}")
    splits = stats.get("splits") or {}
    if sum(splits.values()) != stats.get("kept"):
        problems.append(f"splits {splits} do not sum to kept {stats.get('kept')}")
    return problems


def check_query(name: str, got: tuple, want: tuple | None, min_rows: int = 1) -> list[str]:
    """``got``/``want`` are ``(columns, canonical rows)`` as
    ``tools/check_oracle.py``'s ``canonical`` returns them; ``want`` is
    None for a spec without an oracle, which is held to a row count."""
    cols, rows = got
    if want is None:
        return [] if len(rows) >= min_rows else [f"{name}: {len(rows)} rows < {min_rows}"]
    if len(rows) < min_rows:
        return [f"{name}: {len(rows)} rows < {min_rows}"]
    if cols != want[0]:
        return [f"{name}: columns {cols} != oracle {want[0]}"]
    if rows != want[1]:
        return [f"{name}: {len(rows)} rows differ from the oracle's {len(want[1])}"]
    return []
