"""Twenty-third-wave tests: FIFO conservation identities, drawdown
reference implementation, geo assignment sanity, and bitmap-vs-exact
distinct equality."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave23
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave23_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave23.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave23.SPECS if s.oracle is not None]
)
def test_wave23_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_drawdown_matches_sequential_reference(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    got = {
        r["user_id"]: r["max_drawdown"]
        for r in wave23.q_max_drawdown(spark, sf_dir).collect()
    }
    for uid, grp in ev.groupby("user_id"):
        cum = peak = Decimal(0)
        first = True
        dd = Decimal(0)
        for v in grp["value"]:
            q = Decimal(repr(v)).quantize(Decimal("0.000001"))
            cum = cum + q
            peak = cum if first else max(peak, cum)
            first = False
            dd = max(dd, peak - cum)
        assert got[uid] == pytest.approx(float(dd), abs=1e-6)
        assert got[uid] >= 0.0


def test_fifo_conservation(spark, sf_dir):
    """Matched quantity per part == min(total incoming, total outgoing):
    the FIFO interval-overlap formulation fully allocates whichever
    side is scarce."""
    li = load_table(spark, sf_dir, "lineitem")
    totals = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.when(
                    F.col("l_returnflag").isin("N", "A"), F.col("l_quantity")
                ).otherwise(0.0)
            ).alias("qin"),
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R", F.col("l_quantity")
                ).otherwise(0.0)
            ).alias("qout"),
        )
        .collect()
    )
    expect = {
        r["l_partkey"]: min(r["qin"], r["qout"])
        for r in totals
        if min(r["qin"], r["qout"]) > 0
    }
    got = {
        r["partkey"]: r["matched_qty"]
        for r in wave23.q_fifo_allocation(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert got[k] == pytest.approx(v, abs=1e-6)


def test_fifo_cost_bounds(spark, sf_dir):
    """Matched cost lies within [min_unit*qty, max_unit*qty] of the
    incoming lots of that part."""
    rows = wave23.q_fifo_allocation(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    bounds = {
        r["l_partkey"]: (r["lo"], r["hi"])
        for r in li.filter(F.col("l_returnflag").isin("N", "A"))
        .select(
            "l_partkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("u"),
        )
        .groupBy("l_partkey")
        .agg(F.min("u").alias("lo"), F.max("u").alias("hi"))
        .collect()
    }
    for r in rows[:50]:
        lo, hi = bounds[r["partkey"]]
        # floor-to-cent can undershoot by at most 0.01 per unit
        assert r["matched_cost"] >= (lo - 0.01) * r["matched_qty"] - 1e-6
        assert r["matched_cost"] <= hi * r["matched_qty"] + 1e-6


def test_geo_nearest_is_true_argmin(spark, sf_dir):
    """Brute-force recompute of a few customers' nearest hub."""
    import numpy as np

    hubs = [
        (
            n,
            ((n + 1) * wave23._KB) % 170000 / 1000.0 - 85.0,
            (((n + 1) * wave23._KB) + 7) % 360000 / 1000.0 - 180.0,
        )
        for n in range(
            load_table(spark, sf_dir, "nation").count()
        )
    ]

    def hav(lat1, lon1, lat2, lon2):
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dp = math.radians(lat2 - lat1) / 2
        dl = math.radians(lon2 - lon1) / 2
        a = (
            math.sin(dp) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin(dl) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(a))

    per_hub = {
        r["hub_id"]: r
        for r in wave23.j_geo_nearest_hub(spark, sf_dir).collect()
    }
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r["n_customers"] for r in per_hub.values()) == n_cust
    # recompute assignment for a handful of customers
    counts: dict[int, int] = {}
    custkeys = [
        r["c_custkey"]
        for r in load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .collect()
    ]
    for ck in custkeys:
        lat = (ck * wave23._KA) % 170000 / 1000.0 - 85.0
        lon = ((ck * wave23._KA) + 7) % 360000 / 1000.0 - 180.0
        best = min(
            hubs, key=lambda h: (round(hav(lat, lon, h[1], h[2]), 6), h[0])
        )
        counts[best[0]] = counts.get(best[0], 0) + 1
    for hub_id, n in counts.items():
        assert per_hub[hub_id]["n_customers"] == n
    for r in per_hub.values():
        assert r["mean_km"] >= 0.0


def test_bitmap_overlap_equals_exact_distinct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    exact = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("user_id")
        .agg(F.collect_set("event_type").alias("s"))
        .collect()
    )
    from itertools import combinations

    want: dict[tuple[str, str], int] = {}
    for r in exact:
        for a, b in combinations(sorted(r["s"]), 2):
            want[(a, b)] = want.get((a, b), 0) + 1
    got = {
        (r["type_a"], r["type_b"]): r["n_shared_users"]
        for r in wave23.a_bitmap_overlap(spark, sf_dir).collect()
    }
    assert got == want
