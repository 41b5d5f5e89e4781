"""Golden differential test for the cleansing library.

``cleaning_golden.json`` records, for every input below, what the
earlier Column-built implementation of each cleansing function
returned (the one that expanded every step into its own Catalyst
subtree).  The current SQL-lambda implementation must return exactly
the same strings, NULLs included.  The inputs are the seeded fuzz
corpus, the two hard-function oracle fixtures and a set of strings
that stress SQL quoting and regex escaping.  Do not regenerate the
fixture from the code under test: it is the reference.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.functions import (
    clean_name,
    fix_wrapped_name,
    format_coordinate,
    normalize_words,
    py_strip,
)
from idn_area_etl_spark.functions.cleaning import sql_string
from idn_area_etl_spark.plans.advanced import COORDINATE_FIXTURE, FIX_WRAPPED_FIXTURE
from tests.test_fuzz_cleaning import corpus

GOLDEN = Path(__file__).with_name("cleaning_golden.json")

#: quoting/escaping hazards for SQL text and Java regexes, plus NULL
HOSTILE = [
    "a\\b",
    "\\",
    "\\n literal",
    "\\1 $1 $0",
    "it's",
    "O'Brien Panjangtengah\nan",
    "''",
    '"quoted"',
    '""',
    "Pulau\r\nBesar",
    "\r\n",
    "03°19′03.44″ LU 097°07′41.73″ BT",
    "°′″",
    "Pulau Ñusa Café",
    "Panjangtengah日本\nan",
    "K o d e",
    "N A M A  P R O V I N S I",
    "x\u00a0y",
    "line\u2028sep",
    "tab\tand\x0bvt\x0cff",
    "${x} %s {0}",
    None,
]

FUNCTIONS = {
    "py_strip": py_strip,
    "clean_name": clean_name,
    "fix_wrapped_name": fix_wrapped_name,
    "normalize_words": normalize_words,
    "format_coordinate": format_coordinate,
}


def golden_inputs() -> list[str | None]:
    return corpus() + FIX_WRAPPED_FIXTURE + COORDINATE_FIXTURE + HOSTILE


def test_golden_inputs_are_the_recorded_ones():
    assert json.loads(GOLDEN.read_text())["inputs"] == golden_inputs()


@pytest.mark.parametrize("name", list(FUNCTIONS))
def test_matches_golden_outputs(spark, name):
    golden = json.loads(GOLDEN.read_text())
    df = spark.createDataFrame(list(enumerate(golden["inputs"])), "id int, s string")
    got = [r[0] for r in df.orderBy("id").select(FUNCTIONS[name](F.col("s"))).collect()]
    diffs = [
        (s, want, have)
        for s, want, have in zip(golden["inputs"], golden["outputs"][name], got)
        if want != have
    ]
    assert len(got) == len(golden["inputs"]) and not diffs, diffs[:5]


def test_sql_string_round_trips_hostile_characters(spark):
    values = [v for v in golden_inputs() if v is not None]
    values.append("".join(sorted(set("".join(values)))))
    row = spark.range(1).select(
        *(F.expr(sql_string(v)).alias(f"c{i}") for i, v in enumerate(values))
    ).first()
    assert list(row) == values
