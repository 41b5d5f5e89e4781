"""Seventeenth-wave tests: the refresh-equality, sample-exactness,
and funnel-monotonicity invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave17
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave17_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave17.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave17.SPECS if s.oracle is not None]
)
def test_wave17_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_incremental_refresh_equals_full_recompute(spark, sf_dir):
    """The base+delta merge must equal a direct full aggregation —
    same Spark session, bit-for-bit (decimal partials make the
    merge exact regardless of the split point)."""
    merged = wave17.q_incremental_rollup(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    full = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("month")
        .collect()
    )
    assert [tuple(r) for r in merged] == [tuple(r) for r in full]


def test_group_sample_exactly_k_per_group(spark, sf_dir):
    rows = wave17.s_group_sample_fixed(spark, sf_dir).collect()
    per_lang: dict[str, list] = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r.rn)
    n_langs = (
        load_table(spark, sf_dir, "documents")
        .select("lang").distinct().count()
    )
    assert len(per_lang) == n_langs
    for lang, rns in per_lang.items():
        assert sorted(rns) == list(range(1, wave17.GROUP_SAMPLE_K + 1)), lang


def test_group_sample_partition_invariant(spark, sf_dir):
    base = {
        (r.lang, r.doc_id)
        for r in wave17.s_group_sample_fixed(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").repartition(13)
    h = F.md5(F.concat(F.lit("gsample:"), F.col("doc_id").cast("string")))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id"))
    re_rows = {
        (r.lang, r.doc_id)
        for r in docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= wave17.GROUP_SAMPLE_K)
        .collect()
    }
    assert base == re_rows


def test_sessionized_funnel_is_monotone(spark, sf_dir):
    rows = wave17.q_sessionized_funnel(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r.n_sessions >= r.n_signup >= r.n_signup_view >= r.n_full_funnel >= 0
        )
