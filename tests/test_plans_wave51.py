"""Fifty-first-wave tests: Shapley efficiency + pure-Python
reference equality, TOST structure, Fano positivity."""

from __future__ import annotations

from itertools import combinations
from math import factorial

import pytest

from idn_area_etl_spark.plans import all_specs, wave51


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave51.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave51.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def _python_shapley(spark, sf_dir):
    """Independent exact Shapley from collected per-user rows."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = ev.select("user_id", "event_type").collect()
    users: dict[int, set[str]] = {}
    conv: dict[int, bool] = {}
    for r in rows:
        users.setdefault(r["user_id"], set())
        if r["event_type"] == "purchase":
            conv[r["user_id"]] = True
        else:
            users[r["user_id"]].add(r["event_type"])
    chans = list(wave51._CHANNELS)
    idx = {c: i for i, c in enumerate(chans)}
    masks: dict[int, list[int]] = {}
    for u, chset in users.items():
        m = sum(1 << idx[c] for c in chset if c in idx)
        n, k = masks.get(m, (0, 0)) if m in masks else (0, 0)
        masks[m] = [n + 1, k + (1 if conv.get(u) else 0)]

    def v(S: int) -> float:
        n = k = 0
        for m, (cn, ck) in masks.items():
            if m & ~S == 0:
                n += cn
                k += ck
        return k / n if n else 0.0

    n_ch = len(chans)
    out = {}
    for c in chans:
        i = idx[c]
        total = 0.0
        for size in range(n_ch):
            for combo in combinations(
                [j for j in range(n_ch) if j != i], size
            ):
                S = sum(1 << j for j in combo)
                w = factorial(size) * factorial(n_ch - 1 - size) / factorial(
                    n_ch
                )
                total += w * (v(S | (1 << i)) - v(S))
        out[c] = total
    return out


def test_shapley_matches_python_reference(spark, sf_dir):
    got = {
        r["channel"]: r["shapley"]
        for r in wave51.a_shapley_attribution(spark, sf_dir).collect()
    }
    want = _python_shapley(spark, sf_dir)
    assert set(got) == set(want)
    for c in got:
        assert got[c] == pytest.approx(want[c], abs=2e-6)


def test_shapley_efficiency(spark, sf_dir):
    """Sum of Shapley values == v(grand coalition) - v(empty set)."""
    got = {
        r["channel"]: r["shapley"]
        for r in wave51.a_shapley_attribution(spark, sf_dir).collect()
    }
    want = _python_shapley(spark, sf_dir)
    total_ref = sum(want.values())
    assert sum(got.values()) == pytest.approx(total_ref, abs=1e-5)


def test_tost_structure(spark, sf_dir):
    r = wave51.q_tost_equivalence(spark, sf_dir).collect()[0]
    assert r["margin"] > 0
    assert r["z_lower"] > r["z_upper"]
    expected = r["z_lower"] > 1.644854 and r["z_upper"] < -1.644854
    assert r["equivalent"] == expected


def test_fano_positive(spark, sf_dir):
    rows = wave51.d_event_burstiness(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["mean_per_hour"] > 0
        assert r["fano"] >= 0
