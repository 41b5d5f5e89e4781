"""Seventieth-wave tests: structural invariants for the
power-iteration eigenvector (unit norm, sign convention, n_iter
guard)."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave70


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave70.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave70.SPECS if s.oracle is not None]
)
def test_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_eigenvector_unit_norm_and_sign(spark, sf_dir):
    rows = wave70.e_top_eigenvector(spark, sf_dir).orderBy("d").collect()
    comps = [r["component"] for r in rows]
    assert abs(sum(c * c for c in comps) - 1.0) < 1e-6
    first_nonzero = next(c for c in comps if abs(c) > 1e-12)
    assert first_nonzero > 0  # pinned sign convention
    assert 0.0 < rows[0]["explained_var_ratio"] <= 1.0


def test_pca_rejects_zero_iterations(spark):
    from idn_area_etl_spark.operators.pca import top_principal_component

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="n_iter >= 1"):
        top_principal_component(spark, emb, n_iter=0)


def test_planted_eigvec_is_exact_fixed_point(spark, sf_dir):
    """The rank-1 planted problem must return the planted basis vector
    BIT-exactly (component 7 == 1.0, every other == 0.0 — no
    tolerance: off-axis products all carry a 0.0 factor and the
    on-axis normalization is p/p), constant means d/256 off-axis, and
    explained_var_ratio exactly 1.0 after 6-dp rounding."""
    rows = wave70.e_eigvec_planted(spark, sf_dir).orderBy("d").collect()
    assert len(rows) == 64
    for r in rows:
        if r["d"] == wave70._J_PLANT:
            assert r["component"] == 1.0
        else:
            assert r["component"] == 0.0
            assert r["mean"] == r["d"] / 256.0
        assert r["explained_var_ratio"] == 1.0
