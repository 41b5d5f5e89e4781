"""Thirty-ninth-wave tests: tile-plan geometry identities and
cross-modal join coverage."""

from __future__ import annotations

import pytest

from idn_area_etl_spark.plans import all_specs, wave39
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave39_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave39.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave39.SPECS if s.oracle is not None]
)
def test_wave39_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_tile_plan_geometry(spark, sf_dir):
    rows = wave39.mm_image_tiles(spark, sf_dir).collect()
    T = wave39.TILE
    for r in rows:
        w, h, n = r["width"], r["height"], r["n_bytes"]
        # raster covers the payload
        assert w * h >= n > (w - 1) * h or w * h >= n  # W=ceil(sqrt(n))
        nx = -(-w // T)
        ny = -(-h // T)
        assert r["n_tiles"] == nx * ny
        # recompute checksum by explicit tile enumeration
        chk = 0
        for tx in range(nx):
            for ty in range(ny):
                chk += (
                    tx * T
                    + ty * T
                    + min(T, w - tx * T)
                    + min(T, h - ty * T)
                )
        assert r["geom_checksum"] == chk


def test_cross_modal_join_covers_all_pairs(spark, sf_dir):
    rows = wave39.mm_doc_embedding_join(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    n_pairs = docs.join(emb, docs.doc_id == emb.vec_id).count()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    for r in rows:
        assert r["mean_norm"] > 0
        assert r["chars_per_dim"] > 0
