"""Eleventh-wave tests: the dataset-prep invariants (entropy bounds,
split determinism/ratios, packing budget)."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave11
from idn_area_etl_spark.plans.wave11 import PACK_BUDGET
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave11_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave11.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave11.SPECS if s.oracle is not None]
)
def test_wave11_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


# --------------------------------------------------------------------------
# Entropy bounds: 0 for a one-symbol doc, log2(k) for uniform k symbols
# --------------------------------------------------------------------------


def test_entropy_bounds(spark, sf_dir):
    rows = all_specs()["d_char_entropy"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.char_entropy <= math.log2(r.n_distinct_chars) + 1e-9


def test_entropy_degenerate_and_uniform(spark, sf_dir):
    # swap the documents view for planted fixtures and reuse the oracle SQL
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'aaaaaaaa'), (2, 'abababab'), (3, 'abcdabcd')) t(doc_id, text)"
    )
    got = {r[0]: r[2] for r in con.sql(
        all_specs()["d_char_entropy"].oracle
    ).fetchall()}
    con.close()
    assert got[1] == 0.0
    assert abs(got[2] - 1.0) < 1e-9
    assert abs(got[3] - 2.0) < 1e-9


# --------------------------------------------------------------------------
# Split assignment: deterministic, disjoint-exhaustive, ~80/10/10
# --------------------------------------------------------------------------


def test_split_ratios_and_exhaustiveness(spark, sf_dir):
    rows = all_specs()["s_split_assign"].builder(spark, sf_dir).collect()
    total = sum(r.n_docs for r in rows)
    docs = load_table(spark, sf_dir, "documents").count()
    assert total == docs  # every doc lands in exactly one split
    by_split = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert set(by_split) <= {"train", "val", "test"}
    assert 0.7 < by_split["train"] / total < 0.9


def test_split_partition_invariant(spark, sf_dir):
    spec = all_specs()["s_split_assign"]
    a = sorted(map(tuple, spec.builder(spark, sf_dir).collect()))
    docs = load_table(spark, sf_dir, "documents")
    # same computation over a different layout must agree
    b = sorted(
        map(
            tuple,
            spec.builder(spark, sf_dir).repartition(13).collect(),
        )
    )
    assert a == b


# --------------------------------------------------------------------------
# Packing: contiguous batches, budget respected up to one-doc overflow
# --------------------------------------------------------------------------


def test_packing_budget_and_contiguity(spark, sf_dir):
    rows = sorted(
        all_specs()["s_pack_batches"].builder(spark, sf_dir).collect(),
        key=lambda r: r.batch_id,
    )
    assert rows
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    for r in rows:
        assert r.batch_tokens <= PACK_BUDGET + toks  # one-doc overflow max
        assert r.first_doc <= r.last_doc
    # batches partition the doc_id order contiguously
    for prev, cur in zip(rows, rows[1:]):
        assert prev.last_doc < cur.first_doc
        assert cur.batch_id == prev.batch_id + 1
