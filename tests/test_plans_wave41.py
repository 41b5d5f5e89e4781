"""Forty-first-wave tests: k-center greedy invariants (coverage
radius non-increasing, brute-force round verification) and
anomaly-flag bound."""

from __future__ import annotations

import numpy as np
import pytest

from idn_area_etl_spark.plans import all_specs, wave41
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave41_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave41.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave41.SPECS if s.oracle is not None]
)
def test_wave41_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_kcenter_matches_numpy_greedy(spark, sf_dir):
    rows = wave41.s_kcenter_coreset(spark, sf_dir).collect()
    mat = np.array(
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    selected = [0]
    expect = [(0, 0, 0.0)]
    for rnd in range(1, wave41.CORESET_K):
        d = np.full(len(mat), np.inf)
        for s in selected:
            d = np.minimum(
                d, np.round(np.sqrt(((mat - mat[s]) ** 2).sum(axis=1)), 9)
            )
        d[selected] = -np.inf
        best = int(np.lexsort((np.arange(len(mat)), -d))[0])
        expect.append((rnd, best, float(d[best])))
        selected.append(best)
    got = [(r["round"], r["vec_id"], r["coverage_radius"]) for r in rows]
    assert [g[:2] for g in got] == [e[:2] for e in expect]
    for g, e in zip(got[1:], expect[1:]):
        assert abs(g[2] - e[2]) < 1e-6
    # greedy k-center: coverage radius non-increasing after round 1
    radii = [g[2] for g in got[1:]]
    assert all(b <= a + 1e-9 for a, b in zip(radii, radii[1:]))


def test_anomaly_flags_are_extreme(spark, sf_dir):
    rows = wave41.q_seasonal_anomaly(spark, sf_dir).collect()
    for r in rows:
        assert abs(r["z"]) > wave41.ANOM_Z
