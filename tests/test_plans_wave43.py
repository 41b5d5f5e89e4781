"""Forty-third-wave tests: dataset-card internal consistency (ALL
row vs per-language sums)."""

from __future__ import annotations

from idn_area_etl_spark.plans import all_specs, wave43


def test_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave43.SPECS)


def test_card_matches_duckdb_oracle(oracle_parity):
    oracle_parity("d_dataset_card")


def test_card_all_row_consistent(spark, sf_dir):
    rows = {r["lang_group"]: r for r in wave43.d_dataset_card(spark, sf_dir).collect()}
    allr = rows.pop("ALL")
    assert allr["n_docs"] == sum(r["n_docs"] for r in rows.values())
    assert allr["total_tokens"] == sum(r["total_tokens"] for r in rows.values())
    assert allr["total_chars"] == sum(r["total_chars"] for r in rows.values())
    # global canonical groups can only merge across languages
    assert allr["n_unique"] <= sum(r["n_unique"] for r in rows.values())
    assert 0.0 <= allr["dup_rate"] < 1.0
