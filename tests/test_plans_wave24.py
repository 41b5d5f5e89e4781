"""Twenty-fourth-wave tests: journey classification on planted
sequences, UDAF determinism + numpy cross-check, share-sums-to-one,
and rank-mover identities."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave24
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave24_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave24.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave24.SPECS if s.oracle is not None]
)
def test_wave24_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_journey_classification_first_match_wins():
    import re

    # planted journeys exercising pattern precedence
    cases = {
        "scvp": "activated_buyer",  # signup..purchase beats others
        "cvpe": "browsing_buyer",  # starts click, has purchase
        "cve": "error_exit",
        "cvcv": "window_shopper",
        "pe": "error_exit",
        "p": "other",
        "svc": "other",  # signup but no purchase, no error end
    }
    for journey, want in cases.items():
        got = "other"
        for name, pat in wave24.JOURNEY_PATTERNS:
            if pat and re.search(pat, journey):
                got = name
                break
        assert got == want, (journey, got, want)


def test_journey_cohorts_cover_all_users(spark, sf_dir):
    rows = wave24.q_journey_patterns(spark, sf_dir).collect()
    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        assert r["mean_journey_len"] > 0


def test_wgeomean_matches_numpy_and_is_partition_invariant(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
        F.col("l_quantity").alias("qty"),
    )
    got = {
        r["l_returnflag"]: r["wgeomean_unit_price"]
        for r in wave24.a_weighted_geomean(spark, sf_dir).collect()
    }
    pdf = li.toPandas()
    for flag, grp in pdf.groupby("l_returnflag"):
        w = grp["qty"].to_numpy()
        x = grp["unit"].to_numpy()
        expect = float(np.exp(np.sum(w * np.log(x)) / np.sum(w)))
        assert got[flag] == pytest.approx(expect, rel=1e-9)
        # geometric mean is bounded by min/max
        assert x.min() <= got[flag] <= x.max()
    # partition invariance of the fsum-based UDAF
    re48 = (
        li.repartition(48)
        .groupBy("l_returnflag")
        .agg(wave24.wgeomean_udaf()("unit", "qty").alias("raw"))
        .select("l_returnflag", F.round("raw", 6).alias("w"))
        .collect()
    )
    assert {r["l_returnflag"]: r["w"] for r in re48} == got


def test_ratio_shares_sum_to_one(spark, sf_dir):
    rows = wave24.q_ratio_to_report(spark, sf_dir).collect()
    by_region: dict[str, float] = {}
    region_share: dict[str, float] = {}
    for r in rows:
        by_region[r["r_name"]] = (
            by_region.get(r["r_name"], 0.0) + r["share_of_region"]
        )
        region_share[r["r_name"]] = r["region_share_of_total"]
    for v in by_region.values():
        assert v == pytest.approx(1.0, abs=1e-4)
    assert sum(region_share.values()) == pytest.approx(1.0, abs=1e-4)


def test_rank_movers_are_valid_ranks(spark, sf_dir):
    rows = wave24.q_rank_movers(spark, sf_dir).collect()
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert len(rows) == wave24.TOP_MOVERS
    deltas = [abs(r["rank_delta"]) for r in rows]
    assert deltas == sorted(deltas, reverse=True)
    for r in rows:
        assert 1 <= r["rank_early"] <= n_cust
        assert 1 <= r["rank_late"] <= n_cust
        assert r["rank_delta"] == r["rank_early"] - r["rank_late"]
