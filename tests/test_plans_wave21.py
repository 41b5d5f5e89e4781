"""Twenty-first-wave tests: statistical identities (numpy
cross-check for OLS, marginal identities for chi², planted-equality
Gini, truncated-recursion EWMA equivalence)."""

from __future__ import annotations

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave21
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave21_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave21.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave21.SPECS if s.oracle is not None]
)
def test_wave21_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_ols_agrees_with_numpy_lstsq(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    pdf = li.toPandas()
    got = {
        r["l_returnflag"]: r
        for r in (
            wave21.q_ols_price_quantity(spark, sf_dir)
            .collect()
        )
    }
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["l_quantity"].to_numpy()
        y = grp["l_extendedprice"].to_numpy()
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        row = got[flag]
        assert row["slope"] == pytest.approx(slope, rel=1e-5, abs=1e-6)
        assert row["intercept"] == pytest.approx(intercept, rel=1e-4, abs=1e-6)
        assert row["r2"] == pytest.approx(r * r, rel=1e-5, abs=1e-6)
        assert 0.0 <= row["r2"] <= 1.0


def test_chi2_marginal_identities(spark, sf_dir):
    rows = wave21.q_chi2_priority_segment(spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["obs"] for r in rows) == n_orders
    # expected counts share the observed marginals (identity of the
    # independence model): per-priority sums of expected == observed.
    by_prio: dict[str, float] = {}
    by_prio_obs: dict[str, int] = {}
    for r in rows:
        by_prio[r["o_orderpriority"]] = (
            by_prio.get(r["o_orderpriority"], 0.0) + r["expected"]
        )
        by_prio_obs[r["o_orderpriority"]] = (
            by_prio_obs.get(r["o_orderpriority"], 0) + r["obs"]
        )
        assert r["chi2_contrib"] >= 0.0
    for k, v in by_prio.items():
        assert v == pytest.approx(by_prio_obs[k], rel=1e-4)


def test_gini_zero_for_equal_values(spark):
    df = spark.createDataFrame(
        [(1, i, 100.0) for i in range(10)]
        + [(2, i, float(10 * (i + 1))) for i in range(10)],
        "c_nationkey int, c_custkey int, c_acctbal double",
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    ranked = df.filter(F.col("c_acctbal") > 0).select(
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(30,6)").alias("bal"),
        F.row_number().over(w).alias("i"),
    )
    sums = ranked.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.sum("bal").cast("double").alias("sx"),
        F.sum(F.col("i") * F.col("bal")).cast("double").alias("six"),
    )
    n = F.col("n").cast("double")
    gini = 2.0 * F.col("six") / (n * F.col("sx")) - (n + 1.0) / n
    got = {
        r["c_nationkey"]: r["g"]
        for r in sums.select(
            "c_nationkey", F.round(gini, 6).alias("g")
        ).collect()
    }
    assert got[1] == pytest.approx(0.0, abs=1e-9)  # perfect equality
    assert 0.0 < got[2] < 1.0  # linear ramp is unequal
    # closed form for 10,20,...,100: G = 2*Σi·10i/(n·Σ10i) - 11/10
    xs = [10.0 * (i + 1) for i in range(10)]
    six = sum((i + 1) * x for i, x in enumerate(sorted(xs)))
    expect = 2 * six / (10 * sum(xs)) - 11 / 10
    assert got[2] == pytest.approx(expect, abs=1e-9)


def test_ewma_matches_truncated_recursion(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    got = {
        r["user_id"]: r["ewma"]
        for r in wave21.q_ewma_user_value(spark, sf_dir).collect()
    }
    a = wave21.EWMA_ALPHA
    for uid, grp in ev.groupby("user_id"):
        vals = grp["value"].tolist()[-wave21.EWMA_TERMS:]
        num = sum(
            v * (1 - a) ** j for j, v in enumerate(reversed(vals))
        )
        den = sum((1 - a) ** j for j in range(len(vals)))
        assert got[uid] == pytest.approx(num / den, abs=1e-5)
