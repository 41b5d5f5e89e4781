"""The driver's correctness gate hash-checks the FIRST 50 entries of
``queries()``.  Pin the window's composition so refactors can't
silently evict brief-critical specs or starve the rotation."""

from __future__ import annotations

import glob
import json
import re
from pathlib import Path

from idn_area_etl_spark.plans import all_specs

REPO = Path(__file__).parent.parent

BRIEF_CRITICAL = {
    # reference parity
    "rf_island_code_filter", "rf_parent_from_code", "rf_length_split",
    "rf_name_coalesce", "rf_clean_text", "rf_normalize_spaced",
    "rf_first_seen_orders", "rf_area_pipeline", "rf_island_pipeline",
    "rf_fix_wrapped", "rf_coordinate",
    # LLM-pipeline headliners + TPC-H staples
    "d_minhash_verified", "d_dedup_exact", "d_dedup_clusters",
    "e_cosine_topk", "p_curation_pipeline",
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue",
    "q10_returned_items",
}


def test_window_contains_all_brief_critical_specs():
    window = set(list(all_specs())[:50])
    assert BRIEF_CRITICAL <= window


def test_window_is_nearly_fully_oracle_backed():
    """Window slots are scarce hard evidence, so rows-only specs are
    capped at 2 per window — but NOT banned: a rows-only spec can only
    ever earn driver evidence (the weaker rows+schema check) through a
    window slot, and tools/rotation.py schedules a few per round so
    the non-SQL-expressible tail is not permanently uncheckable.
    r8 spends one slot on d_bpe_merges, whose exact plan the planted
    twin d_bpe_merges_planted certifies in the same window."""
    specs = all_specs()
    rows_only = [n for n in list(specs)[:50] if specs[n].oracle is None]
    assert len(rows_only) <= 2, (
        "too many rows-only specs spending scarce window slots: "
        f"{rows_only}"
    )


#: Specs whose dataflow the round-8 optimizer reshaped WITHOUT driver
#: certification (VERDICT r8 item 1b: a spec driver-checked in r3 and
#: rewritten in r8 is as unverified as a never-checked one).  The r9
#: rotation re-certifies these; a slot spent on one counts as fresh
#: evidence exactly like a never-checked spec, until a CORRECTNESS file
#: of round 9 or later lists it.
R8_RESHAPED_UNCERTIFIED = {
    "d_dsir_weights", "s_dedup_keep_best", "a_cohens_kappa",
    "a_macro_f1", "e_knn_loo_accuracy", "e_semantic_dedup_seeded",
    "a_logrank_test", "s_temperature_mixture", "d_bm25_search",
    "a_rec_coverage",
    "g_rich_club", "g_degree_assortativity", "g_two_hop_reach",
    "g_ego_density", "g_edge_support", "g_triangle_parts",
    "g_clustering_coefficient", "g_link_prediction", "g_top_triangles",
    "g_threshold_profile",
    "a_frequent_triples", "a_association_rules", "q_seasonal_anomaly",
    "d_perplexity_bigram", "d_quality_buckets", "a_pmi_bigrams",
    "d_vocab_overlap", "q_growth_accounting", "a_sample_size_power",
    "q_rfm_segments", "d_dedup_funnel", "s_cluster_aware_split",
    "d_vocab_growth", "a_shapley_attribution", "q_rec_mrr_hitrate",
}


def test_rotation_slots_earn_fresh_driver_evidence():
    """Each round ≥25 window slots must earn evidence the driver does
    not already have: specs absent from every prior round's
    CORRECTNESS file (VERDICT r2 item 2), or specs whose dataflow was
    reshaped after their last driver check and is being re-certified
    (VERDICT r8 item 1b)."""
    window = list(all_specs())[:50]
    checked: set[str] = set()
    recertified: set[str] = set()
    for path in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        names = set(json.load(open(path)))
        if names == set(window):
            # this exact window has already been driver-checked (the
            # file the CURRENT round produced) — rotation is due at
            # the START of the next round, not a failure now
            return
        checked |= names
        if int(re.search(r"_r(\d+)\.json$", path).group(1)) >= 9:
            recertified |= names
    if not checked:  # driver artifacts absent (fresh clone)
        return
    reshaped = R8_RESHAPED_UNCERTIFIED - recertified
    fresh = [n for n in window if n not in checked or n in reshaped]
    assert len(fresh) >= 25, (
        f"only {len(fresh)} evidence-earning specs in the window; "
        "rotate plans/registry.py's rotation list (tools/rotation.py "
        "prints the pool)"
    )
