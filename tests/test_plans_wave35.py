"""Thirty-fifth-wave tests: invariants — PSI on identical halves ~ 0
property via planted data, KS vs scipy-free reference, MI
non-negativity and independence-zero check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave35
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave35_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave35.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave35.SPECS if s.oracle is not None]
)
def test_wave35_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_psi_small_on_stationary_stream(spark, sf_dir):
    # the synthetic stream is stationary → PSI must be tiny
    row = wave35.q_psi_drift(spark, sf_dir).collect()[0]
    assert row["psi"] >= 0  # PSI is a sum of (p-q)ln(p/q) >= 0 terms
    assert row["psi"] < 0.25  # "no significant shift" territory
    assert row["n_ref"] + row["n_cur"] > 0


def test_ks_matches_python_ecdf(spark, sf_dir):
    row = wave35.q_ks_two_sample(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    pdf = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", "value")
        .toPandas()
    )
    a = sorted(pdf[pdf.event_type == "purchase"].value)
    b = sorted(pdf[pdf.event_type == "click"].value)
    values = sorted(set(a) | set(b))
    import bisect

    d = 0.0
    for v in values:
        fa = bisect.bisect_right(a, v) / len(a)
        fb = bisect.bisect_right(b, v) / len(b)
        d = max(d, abs(fa - fb))
    assert abs(row["ks_stat"] - round(d, 6)) < 1e-5
    assert row["n_purchase"] == len(a)
    assert row["n_click"] == len(b)


def test_mi_nonnegative_and_zero_under_independence(spark, sf_dir):
    row = wave35.a_mutual_information(spark, sf_dir).collect()[0]
    assert row["mi_nats"] >= -1e-9
    # value is generated independent of type → MI ≈ 0
    assert row["mi_nats"] < 0.05
