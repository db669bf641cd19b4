"""Guard the driver CORRECTNESS window ordering (VERDICT r1-r4 #1).

The external driver verifies only the first 50 registered queries, so
the first 50 must (a) match the explicit anchors+rotation split, (b)
all carry a DuckDB oracle, and (c) every operator family must have a
representative that is either in the current window or already
driver-green in a prior round's CORRECTNESS file (the judge grades on
the cumulative union across rounds, not on any single window).

VERDICT r4 #1 (self-invalidation): "first-timer" is evaluated against
rounds STRICTLY BEFORE the rotation's landing round, so the driver
writing that round's own CORRECTNESS file (which turns the rotation
green) can never retroactively break the assertion. Each rotation is
pinned here with its landing round; landing round = max round on disk
when the rotation was planned, plus one.
"""

import json
import pathlib
import sys

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import (
    QUERIES,
    _DRIVER_WINDOW,
    _ROTATION,
    _WINDOW_ANCHORS,
)

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

# The green predicate and round parsing live in the generator tool —
# one definition, so the tests and the rotation proposal can never
# disagree about what counts as driver-green (r5 review finding).
from next_window import green_before, green_rounds as green_by_round  # noqa: E402


# Every rotation ever shipped, keyed by its LANDING round (the round
# whose driver run first exercised it), read back from that round's
# CORRECTNESS file: the driver records its window in order, 20
# anchors then the 30 rotation slots, and the rotation scheme began
# in round 4. The live rotation (api._ROTATION) is the newest entry:
# it lands in the round after the newest CORRECTNESS file unless that
# file already recorded it.
ROTATION_SLOTS = slice(len(_WINDOW_ANCHORS), len(_WINDOW_ANCHORS) + 30)


def _landed_rotations() -> dict[int, list[str]]:
    out = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        if rnd >= 4:
            out[rnd] = list(json.loads(path.read_text()))[ROTATION_SLOTS]
    return out


ROTATIONS: dict[int, list[str]] = _landed_rotations()
if ROTATIONS[max(ROTATIONS)] != list(_ROTATION):
    ROTATIONS[max(ROTATIONS) + 1] = list(_ROTATION)

# Endgame refresh picks (VERDICT r5 #2): when the never-green pool
# underflows the 30 rotation slots, tools/next_window.py fills the
# remainder with sanctioned RE-VERIFICATION picks (cumulative-green,
# newest-landed first). Those entries are already green before their
# landing round — list them here per round so the first-timer
# assertion stays strict for everything else. Empty for rounds 4–7:
# the nine r7-new operators topped the pool back up to exactly the
# slot count, so even the endgame round is all first-timers. Round 8
# closes the entire 26-query never-green pool and fills the 4 free
# slots with the four r8 additions (skew profiler, streaming KMV,
# interval overlap, vocab coverage) — 30/30 first-timers again, no
# refresh picks needed.
# Round 9 seats the whole 21-query never-green front (19 post-window
# r8 additions + the re-oracled whitening + the r9 streaming CUSUM
# tier) and fills the 9 free slots with refresh picks — the first
# round the refresh posture actually engages. whitening is red-not-
# green in r8 so it stays a legitimate first-timer, NOT a refresh
# pick.
# Round 10 seats the entire 27-query never-green front (the r9
# post-pin additions) and fills the 3 free slots with refresh picks —
# newest-landed-first puts the three r9-landed embeddings-family
# queries there; whitening leading doubles as the driver-side re-read
# for the r9 bench flag.
REFRESH_OK: dict[int, set[str]] = {
    9: {
        "dedup_span_remediate",
        "dedup_token_savings",
        "dedup_semantic_keep_manifest",
        "events_anomaly_contribution",
        "streaming_rate_limit_windows",
        "streaming_window_quantiles",
        "er_blocked_parts",
        "er_incremental_parts",
        "dq_schema_drift",
    },
    10: {
        "embedding_covariance_whitening",
        "dedup_cross_source_matrix",
        "embedding_source_centroid_drift",
    },
    # Round 11 seats the 26-query never-green front (the r10 post-pin
    # additions) + 4 refresh picks; round 12 likewise (the r11
    # post-pin additions) + 4 refresh picks — newest-landed-first.
    11: {
        "dedup_shingle_containment",
        "retrieval_mmr_rerank",
        "events_autocorrelation",
        "events_session_paths",
    },
    12: {
        "streaming_autocorrelation",
        "streaming_fano_burstiness",
        "events_gini_concentration",
        "dq_volume_anomaly",
    },
    # Round 13 switches the refresh posture to STALEST-green first
    # (VERDICT r12 #4) — these 20 re-verification picks all landed
    # green in rounds 1–2 and have not held a driver slot since.
    13: {
        "j3_inner_join_multi",
        "w2_stratified_sample",
        "w3_rank_dense_rank",
        "w4_lag_lead",
        "w5_running_sum_frame",
        "w6_topk_per_group",
        "set_intersect",
        "set_except",
        "agg_count_distinct",
        "agg_approx_count_distinct",
        "agg_cube",
        "agg_rollup",
        "agg_pivot",
        "sql_surface_revenue_by_nation",
        "tpch_q6_forecast_revenue",
        "tpch_q5_local_supplier_volume",
        "tpch_q3_shipping_priority",
        "heavy_shuffle_part_spend",
        "tpch_q2_min_cost_supplier",
        "tpch_q10_returned_items",
    },
    # Round 14 continues the STALEST-green-first refresh posture —
    # these 16 re-verification picks all landed green in rounds 1–2
    # and have not held a driver slot since.
    14: {
        "tpch_q12_shipmode_priority",
        "tpch_q14_promo_revenue",
        "tpch_q18_large_volume_customers",
        "tpch_q19_disjunctive_predicates",
        "p2_filter_notnull",
        "p3_semi_join",
        "p7_distinct",
        "j2_anti_join",
        "a1_global_count",
        "a4_null_skipping_avg",
        "a5_ratio_of_sums",
        "f1_cast_string_numeric",
        "f2_f3_arithmetic_round",
        "f6_f7_sentinel_null_safe",
        "text_quality_score",
        "text_token_count",
    },
    # Round 15 continues the STALEST-green-first refresh posture —
    # these 15 re-verification picks all landed green in rounds 1–3
    # and have not held a driver slot since.
    15: {
        "dedup_simhash",
        "similarity_topk_bruteforce",
        "dedup_cluster_components",
        "p4_project_alias",
        "p6_match_rate",
        "tpch_q1_pricing_summary",
        "agg_grouping_sets",
        "f_date_functions",
        "similarity_ann_lsh",
        "dedup_embedding_cosine",
        "similarity_pq_topk",
        "events_hypertable_rollup",
        "events_funnel_analysis",
        "udf_rowwise_safe_int",
        "udtf_token_windows",
    },
    # Round 16 continues the STALEST-green-first refresh posture —
    # these 20 re-verification picks all landed green in rounds 2–3
    # and have not held a driver slot since.
    16: {
        "udf_cogroup_spend_ratio",
        "source_json_roundtrip",
        "rest_census_ingest",
        "dq_expectation_suite",
        "cdc_snapshot_diff",
        "skew_salted_agg",
        "json_extract_props",
        "scd2_merge_emulation",
        "corpus_split_train_val_test",
        "corpus_pack_token_shards",
        "corpus_decontamination",
        "corpus_chunk_documents",
        "corpus_mixing_sample",
        "sketch_count_min_tokens",
        "sketch_misra_gries_heavy_hitters",
        "pii_detect_redact",
        "f_higher_order_arrays",
        "sql_recursive_cte_date_spine",
        "dedup_simhash_pairs",
        "similarity_knn_graph",
    },
    # Round 17 continues the STALEST-green-first refresh posture —
    # these 5 re-verification picks all landed green in round 4 and
    # have not held a driver slot since (the 25 never-green slots are
    # the r16 post-pin additions, VERDICT r16 #10).
    17: {
        "dedup_semantic_clusters",
        "events_retention_cohorts",
        "events_anomaly_zscore",
        "streaming_click_purchase_join",
        "join_range_bucketed",
    },
}

LIVE_ROUND = max(ROTATIONS)

# One representative (or more) per SURVEY §2 / LLM-pipeline family that
# must be covered — by the current window or by a prior driver-green row.
FAMILY_REPRESENTATIVES = {
    "flagship": ["flagship_enriched_sample"],
    "filters": ["p1_filter_isin", "p4_project_alias", "p6_match_rate"],
    "joins": ["j1_broadcast_left_join"],
    "aggregates": ["a2_group_count_ordered", "agg_grouping_sets"],
    "windows": ["w2_stratified_sample_rows", "w8_distribution_functions"],
    "order_limit": ["o1_topk"],
    "set_ops": ["set_union_distinct"],
    "scalar_fns": ["f5_string_functions", "f_date_functions", "json_extract_props"],
    "pipeline_gates": ["c3_quality_gate", "dq_expectation_suite"],
    "text": ["text_lang_id", "text_tfidf_top_terms", "text_bpe_top_merges"],
    "corpus_quality": ["quality_heuristic_filter", "pii_detect_redact", "quality_char_entropy"],
    "dedup": ["dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_semantic_clusters"],
    "similarity": ["similarity_ann_lsh", "similarity_ivf_topk", "similarity_pq_topk", "similarity_knn_graph"],
    "retrieval": ["retrieval_bm25_topk", "retrieval_build_inverted_index", "retrieval_hybrid_rrf"],
    "graph": ["graph_pagerank_orders"],
    "events": ["events_session_window", "events_retention_cohorts", "events_anomaly_zscore"],
    "streaming": ["streaming_dedup_events", "streaming_click_purchase_join"],
    "multimodal": ["multimodal_payload_meta"],
    "joins_ext": ["join_asof_last_purchase", "join_range_bucketed"],
    "udf": ["udf_pandas_parse_id", "udf_rowwise_safe_int", "udtf_token_windows"],
    "sources": ["source_csv_roundtrip", "source_orc_roundtrip", "source_schema_evolution", "rest_census_ingest"],
    "skew": ["skew_salted_agg"],
    "cdc": ["scd2_merge_emulation", "cdc_snapshot_diff"],
    "sql_surface": ["sql_recursive_cte_date_spine", "subquery_scalar_correlated"],
    "tpch": ["tpch_q1_pricing_summary", "tpch_q9_product_profit", "tpch_q21_waiting_supplier"],
    "corpus": ["corpus_split_train_val_test", "corpus_pack_token_shards", "corpus_curation_funnel", "training_data_prep_pipeline"],
    "sketch": ["sketch_count_min_tokens", "sketch_hll_union", "sketch_quantile_envelope"],
}


def test_live_rotation_entries_in_window():
    window = set(_DRIVER_WINDOW)
    missing = [n for n in ROTATIONS[LIVE_ROUND] if n not in window]
    assert not missing, f"live rotation entries fell out of window: {missing}"


def test_rotations_were_first_timers_at_their_landing_round():
    # Round-relative (VERDICT r4 #1): a rotation planned for round N may
    # only contain names with no driver-green row in rounds < N. The
    # driver landing round N's own artifacts cannot invalidate this.
    for rnd, names in ROTATIONS.items():
        prior = green_before(rnd)
        already = [
            n
            for n in names
            if n in prior and n not in REFRESH_OK.get(rnd, set())
        ]
        assert not already, (
            f"round-{rnd} rotation entries were already driver-green "
            f"before round {rnd} (and not sanctioned re-verification "
            f"picks): {already}"
        )


def test_live_rotation_matches_generator_tool():
    # The rotation must be exactly what tools/next_window.py derives
    # from the CORRECTNESS history — rotations stay mechanical, not
    # hand-curated (VERDICT r4 #5). Only checked while the live round's
    # own CORRECTNESS file hasn't landed yet (afterwards the tool
    # already proposes the NEXT round's rotation).
    if LIVE_ROUND in green_by_round():
        return
    import next_window

    assert list(_ROTATION) == next_window.next_rotation()


def test_window_is_anchor_plus_rotation_split():
    assert _DRIVER_WINDOW == _WINDOW_ANCHORS + _ROTATION
    assert len(_WINDOW_ANCHORS) == 20
    assert len(_DRIVER_WINDOW) == 50


def test_window_is_exactly_first_50():
    assert list(QUERIES)[:50] == _DRIVER_WINDOW


def test_window_queries_all_have_oracles():
    missing = [n for n in _DRIVER_WINDOW if QUERIES[n].oracle is None]
    assert not missing, f"window entries without oracle: {missing}"


def test_every_family_covered_by_window_or_cumulative_green():
    covered = set(_DRIVER_WINDOW) | green_before(LIVE_ROUND + 1)
    for family, reps in FAMILY_REPRESENTATIVES.items():
        assert covered.intersection(reps), f"family {family!r} has no covered query"


def test_retained_anchors_are_cumulative_green():
    # Anchors exist as regression canaries; each must already be
    # driver-green before the live round (otherwise it belongs in the
    # rotation instead).
    prior = green_before(LIVE_ROUND)
    stale = [n for n in _WINDOW_ANCHORS if n not in prior]
    assert not stale, f"retained anchors never driver-green: {stale}"


def test_no_duplicates_in_window():
    assert len(set(_DRIVER_WINDOW)) == len(_DRIVER_WINDOW)


def test_post_pin_additions_are_registered_and_excluded():
    """r11 typo-guard: a misspelled POST_PIN_ADDITIONS entry would
    silently fail to shield the pinned rotation (the real query would
    surface mid-round and break the pin), so every name must be a
    registered oracle-backed query AND absent from the live window."""
    import tools.next_window as nw

    window = set(_DRIVER_WINDOW)
    for name in nw.POST_PIN_ADDITIONS:
        assert name in QUERIES, f"POST_PIN name not registered: {name}"
        assert QUERIES[name].oracle is not None, (
            f"POST_PIN name has no oracle (never rotates): {name}"
        )
        assert name not in window, (
            f"POST_PIN name is already pinned in the live window: {name}"
        )
