import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from social_media_ai_engineering_etl_spark.session import get_spark
from social_media_ai_engineering_etl_spark.verify import duck_views, exact_diff

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's order-insensitive compare: sort columns by
    name, round floats, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def assert_matches_oracle(spark_df, duck_con, sql: str):
    raw_got = spark_df.toPandas()
    raw_want = duck_con.execute(sql).fetchdf()
    got, want = normalize(raw_got.copy()), normalize(raw_want.copy())
    assert list(got.columns) == list(want.columns), \
        f"schema mismatch: {list(got.columns)} vs {list(want.columns)}"
    assert len(got) == len(want), f"row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=False, rtol=1e-6, atol=1e-9)
    # driver-faithful exact gate: int/float distinct, no tolerance —
    # the tolerant compare above diagnoses VALUE bugs, this catches
    # the hash-class (dtype/rendering) bugs the driver red-rows on.
    diff = exact_diff(raw_got, raw_want)
    assert diff is None, f"exact-hash mismatch (driver would red-row): {diff}"


# ---------------------------------------------------------------------------
# test tiering (VERDICT r8 ask #1)
# ---------------------------------------------------------------------------
#
# The driver's verify window could not fit the full 652-test suite
# (r8: timed out at ~88% with zero failures), so the suite is tiered:
# the DEFAULT tier (pytest.ini: addopts -m "not slow") keeps every
# operator-contract test and the complete per-query oracle-parity
# sweep; tests below are marked `slow` and run via `-m slow` or
# `-m "slow or not slow"`.  Selection is measured, not guessed: one
# full 652-test run with --durations=0 (2026-08-18, 652 passed / 0
# failed), marking whole files whose purpose is fuzzing / reference
# differentials / fault injection, plus individual tests >= 5s that
# are recall curves, restart/exactly-once replays, model training,
# leak sweeps or e2e artifact pipelines.  Durations in comments are
# from that measurement.  NO test was deleted or weakened; the full
# suite remains one flag away.

SLOW_FILES = {
    "test_properties.py",              # 719s: property-based fuzz corpora
    "test_fault_injection.py",         # 117s: mid-stage fault replay
    "test_reference_differential.py",  # 164s: randomized reference fuzz
}

SLOW_TESTS = {
    "test_analytics.py::test_kmeans_sweep_shape",  # 7.4s
    "test_analytics.py::test_narrative_py_variants",  # 27.7s
    "test_analytics.py::test_permutation_importance_ranks_driver",  # 8.2s
    "test_analytics.py::test_rf_learns_synthetic_signal",  # 5.5s
    "test_analytics.py::test_tier_counts_sketch_tracks_exact",  # 5.8s
    "test_curation.py::test_decontaminate_bloom_equals_exact",  # 6.5s
    "test_curation.py::test_pii_scrub_redacts_each_class",  # 5.4s
    "test_dedup.py::test_ann_ladder_survives_null_dominated_corpus",  # 21.3s
    "test_dedup.py::test_embedding_pairs_blocked_matches_expression_path",  # 5.5s
    "test_dedup.py::test_fixed_quantizer_ann_recall_floors",  # 15.5s
    "test_dedup.py::test_ivfpq_recall_and_exact_scores",  # 7.7s
    "test_dedup.py::test_lsh_topk_subset_of_bruteforce_scores",  # 14.3s
    "test_dedup.py::test_minhash_recall_vs_exact",  # 16.4s
    "test_dedup.py::test_semantic_contamination_blocked_path_matches_broadcast",  # 9.8s
    "test_dedup.py::test_semantic_contamination_flags_planted_leak",  # 5.3s
    "test_dedup.py::test_simhash_wide_production_path_finds_near_not_far",  # 25.4s
    "test_empty_inputs.py::test_query_survives_constant_columns[qm_kmeans_sweep]",  # 6.9s
    "test_empty_inputs.py::test_query_survives_null_heavy_input[qm_kmeans_sweep]",  # 6.6s
    "test_empty_inputs.py::test_query_survives_null_heavy_input[qm_permutation_importance]",  # 9.8s
    "test_empty_inputs.py::test_query_survives_null_heavy_input[qm_rf_importance]",  # 6.1s
    "test_empty_inputs.py::test_query_survives_single_row_input[qm_permutation_importance]",  # 15.3s
    "test_empty_inputs.py::test_query_survives_single_row_input[qm_rf_importance]",  # 8.2s
    "test_graph.py::test_fixed_point_pagerank_tracks_float",  # 9.7s
    "test_graph.py::test_label_propagation_separates_planted_communities",  # 7.8s
    "test_graph.py::test_pagerank_matches_numpy_power_iteration",  # 10.0s
    "test_graph.py::test_pagerank_sum_is_node_count",  # 6.3s
    "test_manifest_io.py::test_cli_list_and_run",  # 25.4s
    "test_manifest_io.py::test_dynamic_partition_overwrite_is_partition_scoped",  # 9.8s
    "test_manifest_io.py::test_e2e_written_artifacts_oracle_checked",  # 48.1s
    "test_null_semantics.py::test_funnel_reports_zero_user_steps",  # 11.1s
    "test_null_semantics.py::test_predicate_split_is_null_safe",  # 12.4s
    "test_null_semantics.py::test_snapshot_diff_null_fingerprint_is_not_presence",  # 5.3s
    "test_null_semantics.py::test_unicode_alpha_skew_pinned",  # 16.7s
    "test_observability.py::test_streaming_observed_metrics_per_microbatch",  # 5.9s
    "test_oracle_parity.py::test_every_query_runs",  # 55.0s: the nine SMOKE_EXCLUDED
    "test_pydatasource.py::test_stateful_op_on_rocksdb_state_store",  # 17.8s
    "test_pydatasource.py::test_statestore_reader_inspects_checkpoint",  # 7.3s
    "test_pydatasource.py::test_stream_restart_is_exactly_once",  # 22.2s
    "test_reference_units_differential.py::test_narrative_structure_matches_reference",  # 10.7s
    "test_reference_units_differential.py::test_tone_alignment_matches_reference",  # 39.2s
    "test_rewards.py::test_bullet_styles",  # 5.9s
    "test_rewards.py::test_divider_style",  # 5.5s
    "test_rewards.py::test_fabrication_penalties",  # 6.4s
    "test_rewards.py::test_precise_length_buckets",  # 9.4s
    "test_rewards.py::test_sentiment_arc_and_tone",  # 18.1s
    "test_sampling_extras.py::test_priority_sample_weight_proportional_and_stable",  # 66.7s
    "test_sampling_extras.py::test_validation_check_and_gate_null_semantics",  # 7.0s
    "test_scale.py::test_compaction_plan_and_execute",  # 6.0s
    "test_scale.py::test_hll_mergeable_error_bound_and_union",  # 7.6s
    "test_scale.py::test_ivf_recall_vs_bruteforce",  # 7.3s
    "test_scale.py::test_lsh_guard_auto_selects_from_measured_profile",  # 7.8s
    "test_scale.py::test_maintain_join_equals_full_recompute",  # 16.3s
    "test_scale.py::test_ri_audit_null_count_scheme_survives_dirty_parents",  # 16.6s
    "test_scale.py::test_salted_join_row_identical_and_spreads_hot_key",  # 12.5s
    "test_scale.py::test_twenty_query_session_leaks_no_cached_blocks",  # 35.6s
    "test_scale.py::test_zorder_write_produces_prunable_parquet_stats",  # 11.7s
    "test_streaming.py::test_continuous_rollup_stream_restart_recovers",  # 7.0s
    "test_streaming.py::test_max_files_per_trigger_bounds_micro_batches",  # 15.2s
    "test_streaming.py::test_state_growth_stays_bounded_by_live_keys",  # 86.9s
    "test_streaming.py::test_stateful_running_engagement_recovers_state",  # 12.5s
    "test_streaming.py::test_stream_dedup_within_watermark",  # 18.2s
    "test_streaming.py::test_stream_expanding_zscore_matches_batch",  # 5.3s
    "test_streaming.py::test_stream_funnel_matches_batch_across_restart",  # 17.9s
    "test_streaming.py::test_stream_last_touch_attribution_state",  # 17.1s
    "test_streaming.py::test_stream_matches_batch_for_closed_windows",  # 7.7s
    "test_streaming.py::test_stream_neardup_detects_cross_batch_pairs",  # 14.2s
    "test_streaming.py::test_stream_neardup_portable_hash_matches_oracle_twin",  # 11.7s
    "test_streaming.py::test_stream_stream_conversion_join",  # 12.0s
    "test_streaming.py::test_streaming_continuous_rollup_matches_batch",  # 8.0s
    "test_streaming.py::test_streaming_curation_gate_matches_batch",  # 5.4s
    "test_streaming.py::test_streaming_drift_equals_batch_chisq",  # 10.4s
    "test_streaming.py::test_upsert_sink_crash_windows_never_truncate_live_table",  # 6.4s
    "test_streaming.py::test_upsert_sink_exactly_once_under_real_epoch_redelivery",  # 21.4s
    "test_streaming.py::test_upsert_sink_is_idempotent_under_replay",  # 8.0s
    "test_streaming.py::test_upsert_sink_replay_replaces_partial_failed_attempt",  # 10.8s
    "test_streaming.py::test_watermark_drops_late_data",  # 14.7s
    "test_streaming.py::test_write_audit_publish_gates_on_staged_data",  # 5.3s
    "test_textquality.py::test_bpe_encode_equals_training_replay_per_word",  # 6.9s
    "test_textquality.py::test_bpe_encode_token_conservation",  # 8.1s
    "test_textquality.py::test_bpe_learn_matches_reference_trainer",  # 6.5s
    "test_textquality.py::test_bpe_learn_merge_counts_monotone_and_ranked",  # 5.7s
    "test_textquality.py::test_quality_classifier_train_survives_session_observations",  # 11.2s
    "test_textquality.py::test_quality_classifier_trained_gate_query_contract",  # 17.6s
    "test_textquality.py::test_quality_classifier_training_learns_planted_spam",  # 16.4s
}


def pytest_collection_modifyitems(config, items):
    matched = set()
    for item in items:
        fname = os.path.basename(str(item.fspath))
        key = f"{fname}::{item.name}"
        if fname in SLOW_FILES:
            item.add_marker(pytest.mark.slow)
            matched.add(fname)
        elif key in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            matched.add(key)
    # a renamed test or file must not silently fall out of the
    # manifest: when the WHOLE suite is collected, every manifest
    # entry must match (subset runs -- -k / single files --
    # legitimately match fewer)
    if len(items) >= 600:
        stale = (SLOW_FILES | SLOW_TESTS) - matched
        assert not stale, \
            f"stale SLOW_FILES/SLOW_TESTS manifest entries: {sorted(stale)}"
