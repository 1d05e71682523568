from __future__ import annotations

import duckdb
import pytest

from f1_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Tests measured >= 5s on a clean host (r14 full-suite --durations run):
# stress loops, streaming e2e, exhaustive-parity sweeps. They are MARKED,
# not deleted — `pytest tests/ -m slow` runs exactly this set; the default
# profile (pytest.ini addopts) deselects it so the external driver's
# bounded-budget run completes (r13's driver pytest was truncated at ~67%
# of the 37-min unfiltered suite). The full-corpus DuckDB oracle sweep is
# deliberately NOT here: it is the correctness evidence for queries
# outside the driver's 50-entry window and stays in the default profile.
SLOW_TESTS: dict[str, set[str]] = {
    "test_streaming_sinks.py": {
        "test_jdbc_upsert_distributed_idempotent",
        "test_lap_stream_into_snapshot_table_k5_parity",
        "test_socket_source_live_feed",
        "test_stream_static_enrichment",
    },
    "test_operators.py": {
        "test_blocked_near_dup_equals_exhaustive_across_blocks",
        "test_bpe_encode_fast_degrades_gracefully_past_hot_k",
        "test_bpe_encode_fast_matches_per_occurrence_encode",
        "test_connected_components_scratch_dir_passthrough",
        "test_domain_pagerank_checkpoint_bounds_plan_depth",
        "test_edit_distance_join_matches_exhaustive",
        "test_edit_distance_join_short_strings_complete",
        "test_fuzzy_dedup_degenerate_bucket_stays_linear_and_dedups",
        "test_ivf_batch_matches_single_query_path",
        "test_ivf_batch_recall_vs_per_query_exact",
        "test_ivf_indexed_search_prunes_partitions",
        "test_ivfpq_full_probe_equals_exact",
        "test_ivfpq_index_roundtrips_file_uri",
        "test_ivfpq_recall_vs_exact",
        "test_ivfpq_topk_batch_matches_single_query",
        "test_near_dup_lsh_recall_vs_exhaustive",
        "test_pq_topk_batch_matches_single_query",
        "test_pq_train_encode_adc_match_numpy",
        "test_semantic_dedup_lsh_production_path_matches_exact",
        "test_simhash_locality",
    },
    "test_classify.py": {
        "test_early_stop_on_plateau",
        "test_fit_logreg_gradient_norm_early_stop",
        "test_partition_invariant",
        "test_reduce_modes_agree",
    },
    "test_feedsource.py": {
        "test_batch_change_feed_table_changes",
        "test_catchup_delivers_everything_exactly_once",
        "test_cdf_delete_and_restore_change_files",
        "test_cdf_null_keys_and_type_changing_replace",
        "test_cdf_rewrites_stream_as_change_rows",
        "test_change_commit_fails_unless_skipped",
        "test_change_feed_maintains_replica_with_deletes",
        "test_change_feed_restore_resurrects",
        "test_change_feed_restore_with_equal_dv_counts",
        "test_change_feed_streams_dv_deletes",
        "test_datasource_writer_batch",
        "test_dv_read_bit_equality_and_order",
        "test_pacing_state_dir_e2e_across_runs",
        "test_snapshot_then_tail_exactly_once",
        "test_starting_timestamp_resolves_against_commit_times",
        "test_starting_version_replays_appends_only",
        "test_stream_where_prunes_at_manifest_level",
        "test_table_to_table_streaming_replication",
        "test_where_filtered_replica",
        "test_where_in_option_batch_and_stream",
        "test_where_timestamp_coercion",
        "test_writer_orphan_names_recovery_api_and_retry_succeeds",
        "test_writer_timestamp_stats_match_pruning_frame",
    },
    "test_analytics.py": {
        "test_heavy_hitters_exact_on_zipfian",
        "test_heavy_hitters_raises_when_guarantee_fails",
        "test_heavy_hitters_survives_singleton_flood",
        "test_rate_observer_collects_progress",
        "test_sync_replica_from_changes_exactly_once",
        "test_table_counts_and_freshness",
        "test_table_to_downstream_sync_via_change_feed",
    },
    "test_postgres.py": {
        "test_reference_coalesce_merge_dialect",
        "test_reference_upsert_dialect_last_write_wins",
    },
    "test_storage.py": {
        "test_cdf_restore_vs_append_race_leaves_no_torn_changes",
        "test_composite_key_upsert_cdc_and_merge",
        "test_concurrent_appends_no_lost_updates",
        "test_footer_stats_decline_truncated_min",
        "test_snapshot_apply_cdc_mixed_batch_one_commit",
        "test_snapshot_dv_change_feed_emits_deletes",
        "test_snapshot_merge_cost_model_and_guards",
        "test_snapshot_merge_update_insert_defaults",
        "test_snapshot_model_fuzz",
        "test_snapshot_optimize_packs_only_small_files",
        "test_snapshot_upsert_coalesce_merge_mode",
    },
    "test_scalars.py": {"test_lap_time_property"},
    "test_plans.py": {"test_ivfpq_topk_batch_cell_join_is_broadcast"},
    "test_windows.py": {"test_no_cache_residue"},
    "test_ingest.py": {"test_f1wire_datasource_matches_bronze_and_survives_splits"},
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = item.fspath.basename
        base = item.name.split("[")[0]
        if base in SLOW_TESTS.get(fname, ()):
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def compilations(spark):
    """Classes the driver has compiled so far (Janino compilations counted
    by Spark's CodegenMetrics; a generated-class cache hit adds none)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def ducks():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
