from __future__ import annotations

import contextlib
import os
import uuid

import pytest

from kaer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="kaer-spark-tests", shuffle_partitions=8)
    yield spark


_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@contextlib.contextmanager
def jobs_fired(spark):
    """Yield a list that, once the block exits, holds the ids of the Spark
    jobs this thread fired inside it (read from the status tracker under
    a fresh job group). The caller's job group is restored on exit."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    group = f"jobs-fired-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    fired: list[int] = []
    try:
        yield fired
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        fired.extend(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def tasks_fired(spark):
    """Yield a list that, once the block exits, holds one number: the
    tasks run by the stages of the Spark jobs this thread fired inside
    it (:func:`jobs_fired`). A stage AQE skipped, because its shuffle
    output already existed, ran no task and adds none."""
    sc = spark.sparkContext
    tasks: list[int] = []
    with jobs_fired(spark) as jobs:
        yield tasks
    # the status store is fed by the listener bus, which can lag the
    # action that fired the job
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    total = 0
    for job in jobs:
        for sid in tracker.getJobInfo(job).stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                total += stage.numCompletedTasks
    tasks.append(total)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def corpus(documents, embeddings):
    """documents ⋈ embeddings — the materialized collection the fixtures
    use to bypass the embedding provider (FIXTURES.md)."""
    return documents.join(
        embeddings, documents.doc_id == embeddings.vec_id, "inner"
    ).drop("vec_id")


# ---------------------------------------------------------------------------
# [r18] Two-tier suite (r17 verdict #1): the driver's default gate
# (`pytest tests/ -x -q`) timed out at ~1/3 of the 505-test suite. Tests
# whose measured call time exceeded 1.5s in the full-suite durations run
# (2026-08-18, `pytest tests/ -q --durations=0`, parametrized cases
# aggregated per function; each file keeps at least its cheapest
# function in the fast tier) are re-tiered to `slow` here — CENTRALLY, so
# the tier is one reviewable, regenerable list instead of 260 scattered
# decorators. No test is deleted: the builder's own gate runs the full
# suite (`pytest tests/ -q -m ""`), and the driver's oracle gate
# (tools/selfcheck.py) independently replays every declared query's
# values. Regenerate after a big suite change with:
#   pytest tests/ -q --durations=0 -m "" | <aggregate >1.5s per function>
# and keep these over-threshold tests fast-tier when regenerating, as the
# core exact-dedup and simhash correctness cases (about 4 s each):
# test_dedup.py::test_exact_dedup, test_dedup.py::test_simhash; and the
# schema-memo guard of the parquet reader (about 4 s):
# test_sources.py::test_read_parquet_memo_hits_until_the_listing_changes.
# ---------------------------------------------------------------------------
_SLOW_TESTS = frozenset({
    "test_asof.py::test_asof_events_scale",
    "test_asof.py::test_asof_join_vs_duckdb",
    "test_asof.py::test_asof_nearest_matches_python_and_one_shuffle",
    "test_asof.py::test_asof_tolerance",
    "test_collection.py::test_collection_dedup_indexes_health_and_serving",
    "test_collection.py::test_collection_shingle_and_fuzzy_artifacts",
    "test_collection.py::test_collection_stats",
    "test_collection.py::test_collection_winnow_artifact_and_snapshot_families",
    "test_collection.py::test_compact_and_export_import_roundtrip",
    "test_collection.py::test_compact_data_preserves_rows_and_indexes",
    "test_collection.py::test_compact_preserves_rows_ids_and_index",
    "test_collection.py::test_config_parses_reference_style_toml",
    "test_collection.py::test_deduplicate_against_both_methods",
    "test_collection.py::test_deduplicate_against_ngram_and_bloom",
    "test_collection.py::test_deduplicate_keep_best",
    "test_collection.py::test_deduplicate_semantic",
    "test_collection.py::test_delete_by_filter",
    "test_collection.py::test_delete_rebuilds_index",
    "test_collection.py::test_delete_rebuilds_pq_index",
    "test_collection.py::test_delete_schemaless_filter",
    "test_collection.py::test_dense_ids_large_multipartition_no_collisions",
    "test_collection.py::test_dense_ids_with_order",
    "test_collection.py::test_fq1_reference_example",
    "test_collection.py::test_fq3_edge_cases",
    "test_collection.py::test_fq5_ingest_invariants",
    "test_collection.py::test_index_health_reports_staleness_and_shape",
    "test_collection.py::test_ingest_job_budget",
    "test_collection.py::test_insert_schema_evolution_merges",
    "test_collection.py::test_near_duplicates_and_deduplicate",
    "test_collection.py::test_query_batch_compressed",
    "test_collection.py::test_query_batch_compressed_forwards_nprobe",
    "test_collection.py::test_query_batch_exact_and_approximate",
    "test_collection.py::test_query_batch_schemaless_filter",
    "test_collection.py::test_query_hybrid_fuses_lexical_and_vector",
    "test_collection.py::test_query_hybrid_index_is_transparent",
    "test_collection.py::test_query_mmr_diversifies_and_filters",
    "test_collection.py::test_query_near_through_collection",
    "test_collection.py::test_query_phrase_through_collection",
    "test_collection.py::test_remove_boilerplate_null_doc_survives",
    "test_collection.py::test_remove_boilerplate_rewrites_and_reembeds",
    "test_collection.py::test_swap_crash_post_manifest_rolls_forward",
    "test_collection.py::test_swap_crash_pre_manifest_keeps_original",
    "test_contamination.py::test_bloom_decontaminate_consistency",
    "test_contamination.py::test_bloom_empty_test_set_flags_nothing",
    "test_contamination.py::test_bloom_never_misses_true_contamination",
    "test_contamination.py::test_bloom_report_replays_exactly_with_false_positives",
    "test_contamination.py::test_overlap_fraction_bounds_and_values",
    "test_corpus_ops.py::test_bigram_lm_pretrained_model_scoring",
    "test_corpus_ops.py::test_bigram_lm_quantized_tracks_exact",
    "test_corpus_ops.py::test_bigram_lm_scores_match_python",
    "test_corpus_ops.py::test_bpe_edges",
    "test_corpus_ops.py::test_bpe_train_matches_python_replay",
    "test_corpus_ops.py::test_build_vocab_feeds_oov_stats",
    "test_corpus_ops.py::test_build_vocab_python_replay",
    "test_corpus_ops.py::test_dsir_scores_prefers_target_like_docs",
    "test_corpus_ops.py::test_oov_stats_case_folding",
    "test_corpus_ops.py::test_oov_stats_python_replay",
    "test_corpus_ops.py::test_pack_sequences_overhead_tokens",
    "test_corpus_ops.py::test_perplexity_buckets_partition_and_order",
    "test_corpus_ops.py::test_pps_heavy_row_always_selected",
    "test_corpus_ops.py::test_quota_per_group_hash_order",
    "test_corpus_ops.py::test_sampled_quantiles_bucketed_rank_equals_heap",
    "test_corpus_ops.py::test_sampled_quantiles_matches_python_reference",
    "test_corpus_ops.py::test_shard_assign_balance_and_determinism",
    "test_corpus_ops.py::test_shard_assign_edges",
    "test_corpus_ops.py::test_shard_assign_matches_python_replay",
    "test_corpus_ops.py::test_subword_segment_agrees_with_build_vocab",
    "test_corpus_ops.py::test_subword_segment_counts_python_replay",
    "test_corpus_ops.py::test_temperature_rates_flatten_distribution",
    "test_corpus_ops.py::test_token_budget_mix_matches_python",
    "test_corpus_ops.py::test_token_budget_mix_monotone_and_exact",
    "test_corpus_ops.py::test_token_divergence_empty_and_validation",
    "test_corpus_ops.py::test_training_mix_pipeline_equals_stagewise",
    "test_dedup.py::test_cluster_holdout_split_no_straddle",
    "test_dedup.py::test_cluster_representatives_score_and_ties",
    "test_dedup.py::test_dedup_clusters_distributed_path_matches_driver_path",
    "test_dedup.py::test_dedup_keep_best_filters_corpus",
    "test_dedup.py::test_embedding_near_dups",
    "test_dedup.py::test_embedding_near_dups_between",
    "test_dedup.py::test_embedding_near_dups_lsh",
    "test_dedup.py::test_embedding_near_dups_lsh_calibrates_past_null_rows",
    "test_dedup.py::test_fuzzy_index_build_refresh_serve_parity",
    "test_dedup.py::test_fuzzy_index_stats_report",
    "test_dedup.py::test_fuzzy_near_dups_cap_and_validation",
    "test_dedup.py::test_fuzzy_near_dups_equals_brute_force",
    "test_dedup.py::test_minhash_between_and_dedup_against",
    "test_dedup.py::test_minhash_index_served_equals_from_text",
    "test_dedup.py::test_minhash_index_stats_report",
    "test_dedup.py::test_minhash_signature_and_band_keys_match_expressions",
    "test_dedup.py::test_ngram_containment_indexed_equals_fresh",
    "test_dedup.py::test_ngram_jaccard_against_index_matches_between",
    "test_dedup.py::test_ngram_jaccard_between_matches_bruteforce",
    "test_dedup.py::test_ngram_jaccard_indexed_equals_fresh",
    "test_dedup.py::test_passage_overlap_between_and_removal_against",
    "test_dedup.py::test_passage_verify_rejects_fingerprint_collisions",
    "test_dedup.py::test_refresh_minhash_index_equals_rebuild",
    "test_dedup.py::test_refresh_minhash_index_replay_both_windows",
    "test_dedup.py::test_refresh_shingle_index_equals_rebuild",
    "test_dedup.py::test_refresh_shingle_index_replay_windows",
    "test_dedup.py::test_refresh_signlsh_index_equals_rebuild_and_replay",
    "test_dedup.py::test_remove_duplicate_lines_regex_sep_join",
    "test_dedup.py::test_remove_duplicate_lines_threshold_and_edges",
    "test_dedup.py::test_remove_duplicate_passages_merges_spans",
    "test_dedup.py::test_remove_repeated_lines_python_replay",
    "test_dedup.py::test_semdedup_cell_scoped_groups_and_keep_far",
    "test_dedup.py::test_shingle_index_corr_table_matches_postings",
    "test_dedup.py::test_shingle_index_stats_report",
    "test_dedup.py::test_shingle_index_stats_string_ids",
    "test_dedup.py::test_signlsh_calibrated_candidates_subquadratic",
    "test_dedup.py::test_signlsh_index_served_equals_from_vectors",
    "test_dedup.py::test_signlsh_index_stats_report",
    "test_dedup.py::test_split_leakage_and_holdout_is_leak_free",
    "test_dedup.py::test_winnow_between_matches_global_selection",
    "test_dedup.py::test_winnow_guarantee_and_density",
    "test_dedup.py::test_winnow_index_family_contract",
    "test_dedup_property.py::test_cdc_chunks_match_python",
    "test_dedup_property.py::test_minhash_recall_report_consistency",
    "test_dedup_property.py::test_passage_against_matches_python",
    "test_dedup_property.py::test_remove_duplicate_lines_matches_python",
    "test_dedup_property.py::test_remove_duplicate_passages_matches_python",
    "test_dedup_property.py::test_shingle_refresh_serves_from_text_semantics",
    "test_entry_contract.py::test_det_ann_oracle_on_shifted_id_fixture",
    "test_filters.py::test_array_operators",
    "test_filters.py::test_filter_matches_duckdb",
    "test_filters.py::test_null_semantics",
    "test_filters_json.py::test_json_filter_matches_duckdb",
    "test_filters_json.py::test_missing_vs_null_distinction",
    "test_filters_json.py::test_schemaless_approximate_query_with_filter",
    "test_filters_json.py::test_schemaless_collection_roundtrip",
    "test_filters_json.py::test_type_bracketing",
    "test_filters_property.py::test_json_filter_matches_duckdb_oracle",
    "test_funnel.py::test_counts_and_unreached_steps",
    "test_funnel.py::test_depth_matches_bruteforce",
    "test_index_store.py::test_build_search_recall",
    "test_index_store.py::test_collection_deterministic_index_fit_survives_delete",
    "test_index_store.py::test_collection_index_lifecycle",
    "test_index_store.py::test_collection_pq_index_lifecycle",
    "test_index_store.py::test_collection_query_pq_filtered",
    "test_index_store.py::test_deterministic_fit_is_oracle_replayable",
    "test_index_store.py::test_filtered_query_escalates_nprobe",
    "test_index_store.py::test_index_knn_join_matches_fresh_join",
    "test_index_store.py::test_indexed_collection_survives_schema_evolution",
    "test_index_store.py::test_ivf_index_stats_health_report",
    "test_index_store.py::test_ivf_refresh_replayed_after_crash_no_duplicates",
    "test_index_store.py::test_pq_index_knn_join_equals_per_query_serving",
    "test_index_store.py::test_pq_index_knn_join_filtered",
    "test_index_store.py::test_pq_index_knn_join_unprobed_guard",
    "test_index_store.py::test_pq_index_serves_identically_to_fresh_refined",
    "test_index_store.py::test_pq_index_stage1_scans_codes_not_vectors",
    "test_index_store.py::test_pq_index_stats_reconstruction_error",
    "test_index_store.py::test_pq_index_topk_filtered_escalates_nprobe",
    "test_index_store.py::test_pq_index_topk_filtered_k_nearest_among_matches",
    "test_index_store.py::test_pq_index_with_cells_matches_fresh_ivf_pq",
    "test_index_store.py::test_pq_refresh_catches_up_row_identical",
    "test_index_store.py::test_refresh_catches_up_from_max_id",
    "test_index_store.py::test_refresh_replayed_after_crash_no_duplicates",
    "test_index_store.py::test_search_prunes_partitions",
    "test_knn.py::test_contrastive_triplets_assembly",
    "test_knn.py::test_contrastive_triplets_filtered_negative_pool",
    "test_knn.py::test_exact_knn_dot_metric",
    "test_knn.py::test_fq2_filtered_knn_vs_duckdb",
    "test_knn.py::test_hard_negatives_filtered_pool",
    "test_knn.py::test_ivf_hard_negatives_full_probe_equals_exact",
    "test_multimodal.py::test_image_near_dups_complete_at_threshold",
    "test_pca.py::test_embedding_drift_matches_numpy",
    "test_pca.py::test_semdedup_whiten_equals_manual_projection",
    "test_pipelines.py::test_corpus_datasheet_python_replay",
    "test_pipelines.py::test_pipeline_boilerplate_stage_fused_equals_stagewise",
    "test_pipelines.py::test_pipeline_columns_and_stats",
    "test_pipelines.py::test_pipeline_lang_restriction",
    "test_pipelines.py::test_token_budget_pipeline_shapes_and_budgets",
    "test_plans.py::test_dedup_against_band_join_shape",
    "test_plans.py::test_dedup_keep_best_broadcasts_small_cluster_side",
    "test_plans.py::test_final_plan_carries_codegen_spans",
    "test_plans.py::test_global_ranked_no_global_window",
    "test_plans.py::test_ivf_knn_join_bounded_qid_window",
    "test_plans.py::test_ivf_knn_join_cosine_bounded_qid_window",
    "test_plans.py::test_ivf_knn_join_skew_split_engages",
    "test_plans.py::test_jaccard_df_cap_is_broadcast_anti",
    "test_plans.py::test_passage_overlap_between_plan_shape",
    "test_plans.py::test_remove_duplicate_passages_plan_shape",
    "test_plans.py::test_shard_assign_no_global_window",
    "test_rollup.py::test_day_partition_layout_prunes",
    "test_rollup.py::test_lateness_window_recomputes_older_days",
    "test_rollup.py::test_materialize_and_incremental_refresh",
    "test_rollup.py::test_refresh_is_idempotent",
    "test_rollup.py::test_time_bucket_boundaries",
    "test_similarity.py::test_ivf_fit_spread_balances_clumped_ingestion",
    "test_similarity.py::test_ivf_fit_spread_pmod_discipline",
    "test_similarity.py::test_ivf_knn_join_cosine_full_probe_equals_exact",
    "test_similarity.py::test_ivf_knn_join_partial_probe_recall_and_shape",
    "test_similarity.py::test_ivf_pq_full_knobs_equals_exact",
    "test_similarity.py::test_ivf_pq_partial_probe_recall_and_exact_scores",
    "test_similarity.py::test_ivf_recall_and_pruning",
    "test_similarity.py::test_ivf_recall_sweep_monotone",
    "test_similarity.py::test_mmr_diversifies_clustered_results",
    "test_similarity.py::test_pq_adc_self_exactness_and_shape",
    "test_similarity.py::test_pq_deterministic_adc_self_exactness",
    "test_similarity.py::test_pq_perfect_on_clustered_data",
    "test_similarity.py::test_pq_recall_on_fixture",
    "test_similarity.py::test_pq_refined_full_shortlist_equals_exact",
    "test_similarity.py::test_pq_refined_scores_exact_and_recall_beats_adc",
    "test_similarity.py::test_sq_degenerate_dim_and_clamp",
    "test_sketches.py::test_cms_geometry_guards",
    "test_sketches.py::test_cms_query_zero_match_mismatch_still_raises",
    "test_sketches.py::test_cms_upper_bound_and_exactness",
    "test_sketches.py::test_hll_accuracy_both_branches",
    "test_sketches.py::test_hll_by_group_matches_per_group_global",
    "test_sketches.py::test_hll_empty_input_estimates_zero",
    "test_sketches.py::test_hll_is_multiset_invariant",
    "test_sketches.py::test_hll_merge_equals_union",
    "test_sketches.py::test_hll_tokens_vs_exact",
    "test_sources.py::test_compact_and_delete_rewrites_read_by_catalog",
    "test_sources.py::test_lakehouse_formats_gated",
    "test_sources.py::test_new_spark_context_starts_with_an_empty_memo",
    "test_sources.py::test_warm_collection_reads_and_queries_fire_no_jobs",
    "test_streaming.py::test_compact_ingest_epochs_crash_recovery",
    "test_streaming.py::test_compact_ingest_epochs_preserves_rows_and_replay",
    "test_streaming.py::test_embedding_surrogate_mode_indexes_dropped_docs",
    "test_streaming.py::test_ingest_continues_after_compaction",
    "test_streaming.py::test_stream_embedding_neardup_ingest_end_to_end",
    "test_streaming.py::test_stream_equals_batch_sessionized",
    "test_streaming.py::test_stream_neardup_ingest_end_to_end",
    "test_streaming.py::test_stream_neardup_ingest_surrogate_ids_hash_source",
    "test_streaming.py::test_streaming_dedup_against_reference",
    "test_streaming.py::test_streaming_dedup_first_seen_wins",
    "test_streaming.py::test_streaming_hll_corrupt_state_raises",
    "test_streaming.py::test_streaming_hll_ingest_merge_equals_whole",
    "test_streaming.py::test_streaming_hll_recovers_interrupted_swap",
    "test_streaming.py::test_surrogate_mode_indexes_dropped_docs_transitive_redelivery",
    "test_text_index.py::test_build_search_roundtrip_and_parity",
    "test_text_index.py::test_doclens_broadcast_contract",
    "test_text_index.py::test_hybrid_ranks_favor_both_modalities",
    "test_text_index.py::test_phrase_search_after_refresh",
    "test_text_index.py::test_phrase_search_matches_scan_counts",
    "test_text_index.py::test_phrase_terms_present_but_not_adjacent_excluded",
    "test_text_index.py::test_rebuild_at_same_path_clears_stale_buckets",
    "test_text_index.py::test_refresh_replay_after_crash_between_appends",
    "test_text_index.py::test_refresh_text_index_equals_rebuild",
    "test_text_index.py::test_refresh_text_index_replay_after_crash",
    "test_text_index.py::test_rrf_fuse_python_replay",
    "test_text_index.py::test_search_near_matches_python_and_phrase",
    "test_text_index.py::test_search_prunes_posting_partitions",
    "test_text_index.py::test_search_validates_and_reads_meta",
    "test_text_index.py::test_text_index_stats_string_ids",
    "test_text_index.py::test_text_index_string_ids_and_empty_build",
    "test_tpch_suite.py::test_matches_duckdb_oracle",
})


def stale_slow_keys(keys, modules) -> list[str]:
    """The ``file::function`` keys whose file was collected (``modules``
    maps file basename to its module) but which name no function in it.
    Files outside the run are not checked, so running one file or one
    test never trips this."""
    stale = []
    for key in keys:
        fname, func = key.split("::")
        mod = modules.get(fname)
        if mod is not None and not hasattr(mod, func):
            stale.append(key)
    return sorted(stale)


def pytest_collection_modifyitems(config, items):
    """Attach the `slow` marker to the re-tiered tests before the
    builtin `-m` filter (pytest.ini deselects `slow` by default) runs —
    conftest hooks execute ahead of the mark plugin's filter. A key that
    names a test no longer in its (collected) file fails the run: a
    renamed slow test would otherwise silently join the fast tier."""
    modules = {}
    for item in items:
        modules[item.fspath.basename] = item.module
        key = f"{item.fspath.basename}::{item.function.__name__}"
        if key in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    stale = stale_slow_keys(_SLOW_TESTS, modules)
    if stale:
        raise pytest.UsageError(
            f"tests/conftest.py _SLOW_TESTS names missing tests: {stale}"
        )
