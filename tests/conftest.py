from __future__ import annotations

import pytest

from learn_hbase_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# The `slow` tier (see pytest.ini): node ids measured >= 12 s in the full
# --durations profile (374 passed, r16). Centralized here — one list to
# audit/update from a durations run — instead of 56 scattered decorators.
# The default tier keeps at least one cheap test over every operator these
# cover; the slow tier re-runs with `-m slow`.
_SLOW_TESTS = {
    "test_ann_delta_stack_auto_compacts",
    "test_pagerank_dangling_mass_redistribution",
    "test_pagerank_deterministic_across_partitioning",
    "test_pagerank_exact_replay_enforces_int64_node_bound",
    "test_frozen_ivf_pq_refreeze_invalidates_quantizer_cache",
    "test_pagerank_exact_replay_tracks_double_path",
    "test_salted_join_is_plain_join",
    "test_freeze_kmeans_artifact_lifecycle",
    "test_pagerank_properties",
    "test_ann_compact_swap_and_cleanup_windows",
    "test_signals_path_matches_inline_pipeline_under_defaults",
    "test_ann_index_ingest_stream_maintains_frozen_index",
    "test_pack_bins_are_contiguous_and_budgeted",
    "test_ann_compact_resumes_after_crash_and_probe_dedups_replays",
    "test_connected_components_match_union_find",
    "test_range_join_matches_naive",
    "test_kmeans_matches_numpy_reference",
    "test_semdedup_gate_matches_numpy_reference",
    "test_ann_probe_stream_serves_frozen_index",
    "test_ann_streams_self_heal_a_crashed_compact",
    "test_layout_v1_artifact_probes_but_refuses_appends",
    "test_freeze_auto_nlist_sqrt_rule",
    "test_curation_file_stream_frozen_lm_band",
    "test_winnow_capped_pairs_law",
    "test_frozen_ivf_pq_probe_equals_live_composition",
    "test_capped_pairs_law",
    "test_extend_ivf_pq_incremental_growth",
    "test_dsir_gumbel_salt_varies_and_is_replayable",
    "test_dsir_select_approx_threshold_switch",
    "test_frozen_probe_filtered_search",
    "test_neardup_ingest_batch_replay_is_idempotent",
    "test_ann_probe_stream_tombstone_race_fails_loud_then_resumes",
    "test_ngram_jaccard_capped_pairs_law",
    "test_ngram_containment_capped_pairs_law",
    "test_chunking_covers_every_word_in_order",
    "test_audit_from_signals_matches_inline_audit",
    "test_ivf_pq_composition_consistent_with_adc",
    "test_ivf_recall_vs_bruteforce",
    "test_frozen_probe_pushes_probed_cells_into_the_scan",
    "test_index_delta_stack_auto_merges",
    "test_ivf_sq8_recall_and_frozen_bounds",
    "test_index_fold_heals_torn_deltas_and_leaves_no_trash",
    "test_frozen_ivf_pq_freshness_contract",
    "test_percentile_inputs_are_prerounded",
    "test_dsir_gumbel_beta0_equals_deterministic",
    "test_dsir_select_top_quantile",
    "test_ann_probe_stream_refuses_unowned_output_dir",
    "test_sq8_topk_recall_vs_bruteforce",
    "test_counter_family_sums_deltas",
    "test_rule_stages_first_drop_order",
    "test_frozen_ivf_pq_small_corpus_no_phantom_cells",
    "test_pq_adc_recall_vs_bruteforce",
    "test_decontaminate_flags_overlap",
    "test_classifier_train_matches_numpy_reference",
    "test_index_update_requires_build_and_accepts_dataframe_keys",
    "test_update_index_rejects_uncovered_bare_put",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        # originalname: a parametrized test keeps its tier under every id
        if item.originalname in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture
def cc_loop(monkeypatch):
    """Pins ``connected_components`` to the distributed star loop."""
    from learn_hbase_spark import driver_path

    monkeypatch.setattr(driver_path, "CC_DRIVER_EDGE_CAP", 0)


@pytest.fixture(params=["driver", "loop"])
def cc_path(request):
    """Runs a connected-components test on both paths: the driver
    union-find (default cap) and the star loop (cap 0)."""
    if request.param == "loop":
        request.getfixturevalue("cc_loop")
    return request.param


@pytest.fixture(params=["driver", "loop"])
def km_path(request, monkeypatch):
    """Runs a k-means test on both paths: numpy Lloyd rounds on the driver
    (default cap) and the distributed loop (cap 0)."""
    from learn_hbase_spark import driver_path

    if request.param == "loop":
        monkeypatch.setattr(driver_path, "KMEANS_DRIVER_VALUES_CAP", 0)
    return request.param


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", master="local[4]", shuffle_partitions=4)
    yield s
