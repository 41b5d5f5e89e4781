"""Forty-second-wave tests: canonical dedup behavior on planted
reformatted copies, z-test identity, and quantile-normalization
distribution checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave42
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave42_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave42.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave42.SPECS if s.oracle is not None]
)
def test_wave42_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_canonical_dedup_collapses_reformatted_copies(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello,   World!", "en", "s", 15),
            (2, "hello world", "en", "s", 11),       # same canon as 1
            (3, "HELLO... WORLD", "en", "s", 14),    # same canon as 1
            (4, "goodbye world", "en", "s", 13),
            (5, "hello world", "fr", "s", 11),       # other language
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.createOrReplaceTempView("_canon_docs")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    groups = (
        docs.select("doc_id", "lang", F.md5(canon).alias("ckey"))
        .groupBy("lang", "ckey")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
        .collect()
    )
    en = sorted(
        (r["n"], r["keeper"]) for r in groups if r["lang"] == "en"
    )
    assert en == [(1, 4), (3, 1)]  # the three variants collapse, keeper=1


def test_ztest_rates_and_counts(spark, sf_dir):
    row = wave42.a_two_proportion_ztest(spark, sf_dir).collect()[0]
    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id").distinct().count()
    )
    assert row["n_a"] + row["n_b"] == n_users
    assert 0.0 <= row["rate_a"] <= 1.0
    assert 0.0 <= row["rate_b"] <= 1.0
    # z consistent with the rate gap direction
    assert (row["z_stat"] > 0) == (row["rate_a"] > row["rate_b"])


def test_quantile_normalize_aligns_means(spark, sf_dir):
    rows = {r["lang"]: r for r in wave42.q_quantile_normalize(spark, sf_dir).collect()}
    ref = rows[wave42.QN_REF_LANG]
    # reference maps (approximately) onto itself
    assert abs(ref["mean_after"] - ref["mean_before"]) < 1e-6
    # after normalization every language's mean sits near the
    # reference mean (same target distribution)
    for lang, r in rows.items():
        assert abs(r["mean_after"] - ref["mean_before"]) < 0.2 * ref["mean_before"]
