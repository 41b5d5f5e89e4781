"""The benchmark's own checks must pass on right outputs and fail on
tampered ones, so none passes vacuously.  No Spark needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import csv
import io
import random

from perfbench import checks, inputs


def planted_csvs(planted: inputs.Planted) -> dict[str, str]:
    """CSV text the program should write for ``planted``; fields the
    checks do not compare get a placeholder."""
    out = {}
    for entity, columns in inputs.ENTITY_COLUMNS.items():
        buf = io.StringIO()
        w = csv.writer(buf)
        w.writerow(columns)
        for row in planted.rows[entity]:
            w.writerow(["x" if row.get(c) is None else row[c] for c in columns])
        out[entity] = buf.getvalue()
    return out


def tamper_cell(text: str, row: int, col: int) -> str:
    rows = list(csv.reader(io.StringIO(text, newline="")))
    rows[row][col] += "9"
    buf = io.StringIO()
    csv.writer(buf).writerows(rows)
    return buf.getvalue()


def test_etl_check_accepts_planted_output():
    _, planted = inputs.etl_document(random.Random(7))
    assert checks.check_etl(planted_csvs(planted), planted) == []


def test_etl_check_rejects_one_changed_cell():
    _, planted = inputs.etl_document(random.Random(7))
    for entity in inputs.ENTITY_COLUMNS:
        csvs = planted_csvs(planted)
        csvs[entity] = tamper_cell(csvs[entity], row=1, col=0)  # first data row's code
        assert checks.check_etl(csvs, planted), entity


def test_etl_check_rejects_wrong_row_count():
    _, planted = inputs.etl_document(random.Random(7))
    csvs = planted_csvs(planted)
    csvs["village"] = "".join(csvs["village"].splitlines(keepends=True)[:-1])
    assert any("rows, planted" in p for p in checks.check_etl(csvs, planted))


def test_etl_check_rejects_a_second_copy_of_a_province():
    _, planted = inputs.etl_document(random.Random(7))
    csvs = planted_csvs(planted)
    lines = csvs["province"].splitlines(keepends=True)
    csvs["province"] += lines[1]
    assert checks.check_etl(csvs, planted)


def test_etl_document_plants_dedup_and_unclean_rows():
    _, planted = inputs.etl_document(random.Random(7))
    assert len(planted.rows["province"]) == inputs.PAGES
    assert any(r["name"] is None for r in planted.rows["village"])
    assert any(r["regency_code"] == "" for r in planted.rows["island"])


def test_curate_check():
    cols, originals = inputs.corpus(random.Random(3), 500)
    n = len(cols["doc_id"])
    assert originals == n - int(n * inputs.DUP_FRAC)
    good = {"input_docs": n, "kept": originals,
            "splits": {"train": originals - 2, "val": 1, "test": 1}}
    assert checks.check_curate(good, n, originals) == []
    assert checks.check_curate({**good, "kept": originals + 1}, n, originals)
    assert checks.check_curate(
        {**good, "splits": {"train": originals, "val": 1}}, n, originals)


def test_query_check():
    want = (["a", "b"], [("1", "x"), ("2", "y")])
    assert checks.check_query("q", want, want) == []
    assert checks.check_query("q", (want[0], [("1", "x"), ("2", "z")]), want)
    assert checks.check_query("q", (want[0], want[1][:1]), want)
    assert checks.check_query("q", (["a"], []), None)
    assert checks.check_query("q", (["a"], [("1",)]), None) == []


def test_inputs_repeat_for_a_seed():
    assert inputs.etl_document(random.Random(5))[0] == inputs.etl_document(random.Random(5))[0]
    assert inputs.etl_document(random.Random(5))[0] != inputs.etl_document(random.Random(6))[0]
    assert inputs.corpus(random.Random(5), 50) == inputs.corpus(random.Random(5), 50)


def test_benchmark_json_lists_what_run_py_emits():
    import json
    from pathlib import Path

    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    spec = json.loads((Path(__file__).parent.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
