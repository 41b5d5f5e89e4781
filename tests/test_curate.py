"""Curation CLI: quality filter → dedup (exact / fuzzy) → hash split.

Uses the planted near-duplicate corpus from test_dedup plus a
low-quality row, and runs the CLI main() end-to-end against parquet.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.curate import curate, main

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")
OTHER = (
    "completely different content about spark query engines and their "
    "catalyst optimizer rules for predicate pushdown and column pruning"
)


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),        # exact copy of 1
            (3, NEAR),        # near-copy of 1 (fuzzy-only duplicate)
            (4, OTHER),
            (5, "!!! ??? ///"),  # low-quality (no alpha words)
        ],
        "doc_id long, text string",
    )


def test_exact_mode_keeps_near_duplicates(corpus):
    kept = curate(corpus, mode="exact", quality_min=0.3)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {1, 3, 4}  # 2 exact-dup dropped, 5 quality-dropped
    assert set(kept.columns) == {"doc_id", "text", "split"}


def test_fuzzy_mode_drops_near_duplicates(corpus):
    kept = curate(corpus, mode="fuzzy", quality_min=0.3)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {1, 4}  # 2 and 3 both fold into 1


def test_split_is_deterministic_hash(corpus, spark):
    a = {(r.doc_id, r.split) for r in curate(corpus).collect()}
    b = {(r.doc_id, r.split) for r in curate(corpus).collect()}
    assert a == b
    assert all(s in {"train", "val", "test"} for _, s in a)


def test_cli_end_to_end(corpus, tmp_path, capsys):
    in_dir = str(tmp_path / "in.parquet")
    out_dir = str(tmp_path / "out")
    corpus.write.parquet(in_dir)
    rc = main([in_dir, out_dir, "--mode", "fuzzy", "--quality-min", "0.3"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["input_docs"] == 5
    assert stats["kept"] == 2
    assert stats["removed"] == 3
    assert sum(stats["splits"].values()) == 2
    spark = corpus.sparkSession
    out = spark.read.parquet(out_dir)
    assert {r.doc_id for r in out.select("doc_id").collect()} == {1, 4}
    assert "split" in out.columns  # partition column round-trips


@pytest.mark.parametrize(
    "flags",
    [
        ["--threshold", "3"],
        ["--threshold", "0.6"],
        ["--threshold", "3/0"],
        ["--threshold", "6/5"],
        ["--threshold", "-1/5"],
        ["--train-pct", "101"],
        ["--val-pct", "-1"],
        ["--train-pct", "80", "--val-pct", "30"],
    ],
)
def test_cli_rejects_bad_arguments(flags, tmp_path, capsys):
    """Bad flags end in a usage error (exit 2), before any Spark work."""
    with pytest.raises(SystemExit) as exc:
        main([str(tmp_path / "in"), str(tmp_path / "out"), *flags])
    assert exc.value.code == 2
    assert flags[0] in capsys.readouterr().err


def test_cli_accepts_boundary_arguments(corpus, tmp_path, capsys):
    """The edge values NUM == DEN and a 100/0 split are accepted."""
    in_dir = str(tmp_path / "in.parquet")
    corpus.write.parquet(in_dir)
    rc = main(
        [in_dir, str(tmp_path / "out"), "--threshold", "1/1",
         "--train-pct", "100", "--val-pct", "0"]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["splits"] == {"train": stats["kept"]}


def test_cli_stats_match_the_written_output(spark, tmp_path, capsys):
    """The stats line's counts are observed on the write itself; they
    equal a read-back of what was written, per split."""
    docs = spark.createDataFrame(
        [(i, f"document {i} on topic {i % 7} with words") for i in range(60)],
        "doc_id long, text string",
    )
    in_dir, out_dir = str(tmp_path / "in.parquet"), str(tmp_path / "out")
    docs.write.parquet(in_dir)
    assert main([in_dir, out_dir, "--train-pct", "50", "--val-pct", "30"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    written = spark.read.parquet(out_dir)
    by_split = {r["split"]: r["count"] for r in written.groupBy("split").count().collect()}
    assert set(by_split) == {"train", "val", "test"}
    assert stats["splits"] == by_split
    assert stats["kept"] == written.count() == 60
    assert stats["removed"] == 0


@pytest.mark.parametrize(
    "name, budget",
    [("curate", 300), ("p_curation_pipeline", 300), ("d_dsir_weights", 300)],
)
def test_builds_in_few_py4j_commands(spark, sf_dir, py4j_commands, name, budget):
    """Building the fuzzy curation plan and the two curation specs
    costs few driver round-trips: their expressions are parsed SQL
    text.  Column-built, they took ~8,100, 662 and 1,142; with one
    ``F.expr`` per MinHash aggregate, ``curate`` took 438."""
    from idn_area_etl_spark.plans import all_specs
    from idn_area_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    if name == "curate":
        def build():
            return curate(docs, "fuzzy")
    else:
        def build():
            return all_specs()[name].builder(spark, sf_dir)

    build()  # first-use lookups are not part of the steady cost
    with py4j_commands() as commands:
        build()
    n_commands = len(commands)
    assert 0 < n_commands <= budget


def test_fuzzy_plan_shape_is_pinned(corpus):
    """The un-staged optimized plan of ``curate --mode fuzzy``: one
    shingle scan per sketch branch, the band explode, the band-pair,
    verify and anti joins, and no lambda beyond the shingle hashing."""
    import re

    from idn_area_etl_spark.operators.stage import staging_disabled

    with staging_disabled():
        plan = curate(corpus, "fuzzy")._jdf.queryExecution().optimizedPlan().toString()

    def nodes(kind):
        return len(re.findall(rf"^[\s:+|-]*{kind} ", plan, re.M))

    assert plan.count("lambdafunction") == 4
    assert (nodes("Generate"), nodes("Join"), nodes("Aggregate")) == (6, 4, 6)


def test_repeated_corpus_pass_compiles_no_classes(spark, sf_dir):
    """A long-lived session keeps the generated classes of the queries
    it repeats: the second pass of fuzzy curation plus the three
    curation specs compiles nothing.  At Spark's default codegen cache
    of 100 entries the second pass recompiled 54 classes."""
    from idn_area_etl_spark.plans import all_specs
    from idn_area_etl_spark.session import compiled_classes
    from idn_area_etl_spark.sources.tables import load_table

    specs = all_specs()
    docs = load_table(spark, sf_dir, "documents")

    def one_pass():
        frames = [curate(docs, "fuzzy")] + [
            specs[name].builder(spark, sf_dir)
            for name in ("p_curation_pipeline", "d_dedup_exact", "d_dsir_weights")
        ]
        for df in frames:
            df.write.format("noop").mode("overwrite").save()

    first = compiled_classes(spark)
    one_pass()
    second = compiled_classes(spark)
    one_pass()
    assert second > first
    assert compiled_classes(spark) == second
