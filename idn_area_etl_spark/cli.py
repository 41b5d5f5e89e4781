"""CLI mirroring the reference's ``idnareaetl`` surface (cli.py:77-205).

    python -m idn_area_etl_spark.cli PDF_PATH [options]

Flags match the reference: destination, output name, page range,
chunk size, config path.  ``--parallel`` is accepted for
compatibility but meaningless (executor parallelism is the default in
Spark).  Validation rules and the zero-rows exit-1 contract follow
cli.py:56-74, 198-201.

Because this container ships no camelot/pypdf, ``--fixture-json``
accepts a JSON file of ``[[page_no, table_no, grid], ...]`` and runs
the identical dataflow from fabricated tables — the same substitution
the reference's own CLI tests perform (test_cli.py:92-106).
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time
from collections.abc import Iterator, Sequence
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame

from idn_area_etl_spark.config import ConfigError, load_config
from idn_area_etl_spark.operators.registry import extract_all
from idn_area_etl_spark.session import get_spark
from idn_area_etl_spark.sources.pdf import (
    parse_page_range,
    pdf_to_raw_tables,
    probe_page_count,
    validate_page_range,
)
from idn_area_etl_spark.sources.raw import raw_from_cell_grids
from idn_area_etl_spark.writer import write_all_entities

OUTPUT_NAME_PATTERN = re.compile(r"^[\w-]+$")

PACKAGE_NAME = "idn-area-etl-spark"

def version_string() -> str:
    """Package version: installed metadata first, falling back to the
    in-tree ``__version__`` (this repo is usually run from source)."""
    try:
        from importlib.metadata import version

        return version(PACKAGE_NAME)
    except Exception:
        from idn_area_etl_spark import __version__

        return __version__


def chunked(seq: Sequence[int], size: int) -> Iterator[list[int]]:
    """Reference ``chunked`` (utils.py) — fixed-size page chunks."""
    for i in range(0, len(seq), max(1, size)):
        yield list(seq[i : i + max(1, size)])


def format_duration(duration: float) -> str:
    """Reference ``format_duration`` (utils.py:103-110)."""
    hours, rem = divmod(duration, 3600)
    minutes, seconds = divmod(rem, 60)
    if hours:
        return f"{int(hours)}h {int(minutes)}m {int(seconds)}s"
    if minutes:
        return f"{int(minutes)}m {int(seconds)}s"
    return f"{seconds:.2f}s"


def validate_args(args: argparse.Namespace) -> str | None:
    """Reference validation rules (cli.py:56-74); returns an error
    message or None."""
    if args.fixture_json is None and not str(args.pdf_path).endswith(".pdf"):
        return "input must be a .pdf file"
    if args.pages is not None and not validate_page_range(args.pages):
        return f"invalid page range: {args.pages!r}"
    if args.output is not None and not OUTPUT_NAME_PATTERN.match(args.output):
        return f"invalid output name: {args.output!r}"
    dest = Path(args.destination)
    if dest.exists() and not dest.is_dir():
        return f"destination is not a directory: {dest}"
    return None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="idnareaetl-spark",
        description="Extract Indonesian area/island entities from PDF tables "
        "into CSVs, on Spark.",
    )
    p.add_argument("pdf_path", type=Path, nargs="?", default=None)
    p.add_argument("-d", "--destination", type=Path, default=Path("."))
    p.add_argument("-o", "--output", default=None, help="output name (default: PDF stem)")
    # reference spelling is --range/-r (cli.py:98); --pages/-p kept too
    p.add_argument("-r", "--range", "-p", "--pages", dest="pages",
                   default=None, help="page range like '1-4,6'")
    p.add_argument("-c", "--chunk-size", type=int, default=3)
    p.add_argument("--parallel", action="store_true",
                   help="accepted for compatibility; Spark is always parallel")
    p.add_argument("--config", type=Path, default=None)
    p.add_argument("--fixture-json", type=Path, default=None,
                   help="JSON [[page_no, table_no, grid], ...] to run without "
                   "a PDF parser")
    p.add_argument("-v", "--version", action="store_true",
                   help="show the package version and exit")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.version:
        try:
            print(f"{PACKAGE_NAME}: {version_string()}")
            return 0
        except Exception:
            print(
                f"{PACKAGE_NAME}: Version information not available. "
                "Make sure the package is installed."
            )
            return 1
    if args.pdf_path is None and args.fixture_json is None:
        print("error: missing input (PDF path or --fixture-json)",
              file=sys.stderr)
        return 1

    error = validate_args(args)
    if error:
        print(f"error: {error}", file=sys.stderr)
        return 1

    try:
        config = load_config(args.config)
    except ConfigError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1

    args.destination.mkdir(parents=True, exist_ok=True)
    stem = args.pdf_path.stem if args.pdf_path is not None else "fixture"
    output_name = args.output or stem

    started = time.perf_counter()
    spark = get_spark(app_name="idnareaetl-spark")
    try:
        # The reference's chunk loop (cli.py:170-195): page chunks are
        # read one at a time.  Chunks are unioned before extraction, so
        # first-seen province dedup is run-global like the reference's
        # ``_seen_provinces`` (extractors.py:110-112), not per chunk.
        raws = []
        if args.fixture_json is not None:
            grids = [
                (int(p), int(t), g)
                for p, t, g in json.loads(args.fixture_json.read_text())
            ]
            pages = sorted({p for p, _, _ in grids})
            for chunk in chunked(pages, args.chunk_size):
                chunk_grids = [g for g in grids if g[0] in set(chunk)]
                raws.append(raw_from_cell_grids(spark, chunk_grids))
        else:
            total_pages = probe_page_count(str(args.pdf_path))
            pages = (
                parse_page_range(args.pages, total_pages)
                if args.pages is not None
                else list(range(1, total_pages + 1))
            )
            for chunk in chunked(pages, args.chunk_size):
                raws.append(pdf_to_raw_tables(
                    spark, str(args.pdf_path), chunk, args.chunk_size
                ))

        if not raws:
            # no tables at all: still emit the header-only files
            # (open-handles contract) and exit 1 below
            raws.append(raw_from_cell_grids(spark, []))
        entities = extract_all(reduce(DataFrame.unionByName, raws))
        counts = write_all_entities(
            entities, args.destination, output_name, config
        )
    except RuntimeError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    except KeyboardInterrupt:
        # Ctrl-C; PySpark's SIGINT handler cancels the running jobs
        # before raising this
        print("\n⛔ Aborted by user.", file=sys.stderr)
        return 130

    total = sum(counts.values())
    if total == 0:
        print("error: no rows extracted", file=sys.stderr)
        return 1
    print(
        f"extracted {total} rows to {args.destination} "
        f"in {format_duration(time.perf_counter() - started)}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
