"""Twenty-sixth-wave tests: algorithmic invariants — moment sanity
vs numpy, trigram count identities, Holt fold vs a plain-Python
reference, RAKE score structure, and grid-join
soundness/completeness against brute force on planted points."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave26
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave26_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave26.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave26.SPECS if s.oracle is not None]
)
def test_wave26_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_moments_match_numpy(spark, sf_dir):
    rows = wave26.q_moment_stats(spark, sf_dir).collect()
    pdf = (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_acctbal")
        .toPandas()
    )
    for r in rows:
        x = pdf[pdf.c_mktsegment == r["c_mktsegment"]].c_acctbal.to_numpy()
        m2 = np.mean((x - x.mean()) ** 2)
        skew = np.mean((x - x.mean()) ** 3) / m2**1.5
        kurt = np.mean((x - x.mean()) ** 4) / m2**2 - 3
        assert r["n"] == len(x)
        assert abs(r["skewness"] - skew) < 1e-4
        assert abs(r["kurtosis"] - kurt) < 1e-4


def test_trigram_total_identity(spark, sf_dir):
    # Σ over ALL trigrams (no limit) = Σ_user max(n_u - 2, 0).
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").count().collect()
    expected = sum(max(r["count"] - 2, 0) for r in per_user)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lead("event_type", 2).over(w).alias("e3")
    ).filter(F.col("e3").isNotNull())
    assert seq.count() == expected


def test_holt_fold_matches_python_reference(spark, sf_dir):
    rows = wave26.q_holt_forecast(spark, sf_dir).collect()
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(24,6)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("x")
        )
        .toPandas()
    )
    a, b = wave26.HOLT_ALPHA, wave26.HOLT_BETA
    for r in rows:
        xs = (
            daily[daily.event_type == r["event_type"]]
            .sort_values("day")
            .x.tolist()
        )
        level, trend = xs[0], 0.0
        for x in xs[1:]:
            new_level = a * x + (1 - a) * (level + trend)
            trend = b * (new_level - level) + (1 - b) * trend
            level = new_level
        assert r["n_days"] == len(xs)
        assert abs(r["level"] - level) < 1e-6
        assert abs(r["trend"] - trend) < 1e-6


def test_rake_score_is_degree_over_freq(spark, sf_dir):
    rows = wave26.d_rake_keywords(spark, sf_dir).collect()
    assert 0 < len(rows) <= wave26.RAKE_TOP_K
    for r in rows:
        assert r["freq"] >= wave26.RAKE_MIN_FREQ
        assert abs(r["score"] - round(r["degree"] / r["freq"], 6)) < 1e-12
        # A word's bigram degree is bounded by twice its frequency.
        assert r["degree"] <= 2 * r["freq"]


def test_grid_join_sound_and_complete_vs_brute_force(spark, sf_dir):
    # The registered query at sf0.001 may legitimately find 0 pairs;
    # certify the grid pruning itself against brute force on the
    # points the query actually uses at this sf.
    pairs = wave26.j_grid_close_pairs(spark, sf_dir)
    got = {(r["a"], r["b"]): r["dist_deg"] for r in pairs.collect()}
    from idn_area_etl_spark.operators.sketch import md5_bucket

    pts = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("id"),
            (
                md5_bucket(F.col("c_custkey"), "glat:", 170_000).cast(
                    "double"
                )
                / 1000.0
                - 85.0
            ).alias("lat"),
            (
                md5_bucket(F.col("c_custkey"), "glon:", 360_000).cast(
                    "double"
                )
                / 1000.0
                - 180.0
            ).alias("lon"),
        )
        .toPandas()
    )
    coords = {
        int(r.id): (r.lat, r.lon) for r in pts.itertuples(index=False)
    }
    ids = sorted(coords)
    brute = {}
    for i, ai in enumerate(ids):
        la, lo = coords[ai]
        for bi in ids[i + 1 :]:
            lb, lob = coords[bi]
            d = math.sqrt((la - lb) ** 2 + (lo - lob) ** 2)
            if d < wave26.GRID_RADIUS_DEG:
                brute[(ai, bi)] = d
    assert set(got) == set(brute)
    for k, d in brute.items():
        assert abs(got[k] - round(d, 6)) < 1e-9
