"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over flink_realtime_edu_demo_spark: the registry holds every
implemented operator from SURVEY.md §2 as (spark, sf_dir) -> DataFrame
plus its DuckDB oracle SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import flink_realtime_edu_demo_spark.queries  # noqa: E402,F401 — populates registry
from flink_realtime_edu_demo_spark.registry import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    return QUERIES["q_agg_basic"](spark, "/root/testdata/sf0.001")


# Keys the driver already verified (green hash-match, or the declared
# rows-only verdict) and that are unchanged since. The driver checks the
# FIRST 50 keys of queries() per round, so these rotate to the back and the
# unverified / newly-changed keys surface first. Ordered stalest-verdict-
# first so the window's spare slots re-check the oldest greens. Refresh each
# round from CORRECTNESS_r{N}.json; staleness is enforced by
# tests/test_verified_green.py against the recorded source hashes
# (regenerate with tools/gen_green_hashes.py after a driver round).
_VERIFIED_GREEN = (
    "q_llm_decontam_bloom", "q_llm_semantic_dedup", "q_mm_resize",
    "q_project_arith",
    "q_tpch_q18", "q_tpch_q19", "q_tpch_q6", "q_upsert_latest",
    "q_join_interval", "q_join_full", "q_join_cross_topk", "q_join_inner",
    "q_join_anti", "q_agg_approx_quantile", "q_agg_approx_uv", "q_cep_until",
    "q_cep_times_consecutive", "q_cep_consecutive",
    "q_llm_gopher_rules", "q_llm_substring_scrub", "q_cep_followed_by_group",
    "q_cep_followed_by_group_bounded",
    "q_cep_until_define", "q_cep_times_or_more", "q_llm_dsir",
    "q_cep_followed_by_any",
    "q_agg_regression", "q_join_lateral", "q_llm_bigram_score",
    "q_llm_heavy_hitters", "q_llm_minhash_lsh", "q_llm_pack_chunks",
    "q_llm_pack_greedy", "q_llm_pii_scrub", "q_llm_rand_proj",
    "q_llm_substring_dedup", "q_llm_token_len_hist",
    "q_stream_session_dyngap", "q_tpch_q1", "q_tpch_q11", "q_tpch_q12",
    "q_tpch_q13", "q_tpch_q15", "q_tpch_q16", "q_tpch_q17", "q_tpch_q2",
    "q_tpch_q21", "q_tpch_q8", "q_tpch_q9", "q_ts_gapfill", "q_ts_interp",
    "q_ts_ohlc", "q_unpivot", "q_fn_bitwise", "q_fn_datetime", "q_fn_hash",
    "q_fn_map", "q_fn_math", "q_fn_string", "q_fn_string2",
    "q_llm_lm_buckets_scaled", "q_stream_late_branch", "q_join_left",
    "q_join_semi", "q_join_window", "q_llm_dedup_chargram",
    "q_llm_dedup_exact", "q_llm_dedup_fuzzy", "q_mm_dedup_payload",
    "q_scd2_asof_enrich", "q_scd2_build", "q_set_except", "q_set_intersect",
    "q_set_union", "q_set_union_all", "q_side_output", "q_sort_limit",
    "q_stream_hop", "q_stream_session", "q_stream_tumble",
    "q_stream_window_topn", "q_topn_per_key", "q_tpch_q20", "q_tpch_q22",
    "q_cep_all_rows_running", "q_cep_measures_subset", "q_ts_interval_merge",
    "q_win_laglead", "q_win_moving_avg", "q_win_rank", "q_agg_argminmax",
    "q_agg_basic", "q_agg_bool", "q_agg_count_distinct",
    "q_agg_grouping_sets", "q_agg_null_group", "q_dedup_exact", "q_fn_array",
    "q_fn_cast", "q_fn_datetime2", "q_fn_editdist", "q_fn_trig", "q_funnel",
    "q_join_range_bin", "q_llm_ann_ivf", "q_llm_centroids",
    "q_cep_not_next_end", "q_cep_followed_by_readmit", "q_cep_mixed_links", "q_cep_followed_by",
    "q_cep_followed_by_rows",
    "q_cep_followed_by_define", "q_cep_not_followed_by", "q_cep_followed_by_iterative",
    "q_cep_followed_by_iterative_within",
    "q_cep_followed_by_iterative_all", "q_cep_followed_by_iterative_prev",
    "q_cep_iterative", "q_cep_iterative_anchor", "q_cep_iterative_within",
    "q_llm_fingerprint", "q_llm_kmeans",
    "q_llm_kmeans_assign", "q_llm_knn", "q_llm_knn_ivf_scaled",
    "q_llm_lang_id", "q_llm_quality", "q_llm_tokens", "q_llm_winnow",
    "q_join_theta_scaled", "q_cdc_debezium_scd2", "q_agg_json_objectagg",
    "q_stream_tumble_offset", "q_cep_not_next_interior",
    "q_cep_within_step_links", "q_stream_count_tumble",
    "q_stream_count_slide", "q_cdc_debezium_latest", "q_cogroup",
    "q_llm_url_dedup", "q_llm_line_dedup", "q_cep_within_step",
    "q_cep_iter_within_step", "q_mm_features", "q_mm_frames",
    "q_mm_meta_filter", "q_pivot", "q_set_except_all", "q_set_intersect_all",
    "q_sort_nulls", "q_stream_cumulate", "q_tpch_q3", "q_tpch_q5",
    "q_udaf_groupagg", "q_udf_scalar", "q_udtf_split", "q_win_dist",
    "q_win_range_frame", "q_win_running_sum", "q_agg_listagg",
    "q_agg_mode", "q_agg_salted_count", "q_fn_try", "q_join_lookup_async",
    "q_join_skew_salted", "q_llm_clean_corpus", "q_llm_decontam",
    "q_llm_embed_quant", "q_llm_entropy", "q_llm_keyword_topk",
    "q_llm_mix_weights", "q_llm_quality_clf", "q_llm_repetition",
    "q_llm_sample_exact_k", "q_llm_split", "q_llm_stratified_sample",
    "q_llm_tfidf",
    "q_cep_runagg", "q_cep_runagg_interior", "q_cep_runagg_tail",
    "q_cep_runagg_multi_tail", "q_cep_runagg_chain",
    "q_cep_runagg_plus_interior", "q_cep_runagg_bounded",
    "q_cep_runagg_iterative", "q_cep_runagg_iter_firstloop", "q_cep_runagg_minmax",
    "q_cep_followed_by_skip_first", "q_cep_followed_by_skip_last",
)

# Round-15 window (49 + warmup): the 7 new round-15 keys (Pattern-API
# greedy() vs default on an overlapping loop, interior non-consuming
# notFollowedBy + within, times(m,n).allowCombinations(), embedding
# decontamination, window dedup, windowed grouping sets), then the 42
# stalest greens rotated from the top of _VERIFIED_GREEN
# (subquery/tpch tails, the agg block, the strict-engine CEP block
# incl. the six keys adjudicated as warmup/host-noise this round, and
# the r3-era scalar/json keys; the 4 displaced stale slots returned
# to the green top as new keys landed).
_REVERIFY_FRONT = (
    # sessionized CEP keys rewritten as sessionize() + the flat engine
    # keyed by (user_id, session_id), with the oracle reading
    # sessionize_oracle_sql — rotated to the window front for
    # re-verification:
    "q_cep_sessionized", "q_cep_mixed_links_sessionized",
    "q_cep_followed_by_sessionized", "q_cep_followed_by_any_sessionized",
    "q_cep_until_sessionized", "q_cep_followed_by_group_sessionized",
    "q_cep_prev_sessionized", "q_cep_runagg_chain_sessionized",
    "q_cep_runagg_sessionized", "q_cep_iterative_sessionized",
    "q_cep_followed_by_iterative_sessionized",
    # r16 optimization-round engine changes (within-scan window
    # precompute, q_agg_corr long quantity moments, BPE literal
    # re-entry, simhash/dhash pre-projection, graph-gate single
    # probe) — rotated to the driver window front for re-verification:
    "q_agg_corr", "q_cep_within", "q_cep_within_define", "q_cep_followed_by_within",
    "q_cep_mixed_links_within", "q_cep_not_followed_by_end",
    "q_llm_bpe_merges", "q_llm_bpe_encode", "q_llm_dedup_simhash",
    "q_llm_dup_groups", "q_llm_canonical_pick",
    "q_cep_combinations_chain", "q_cep_not_next_quantified",
    "q_mm_dedup_perceptual",  # new r16
    "q_cep_greedy", "q_cep_greedy_default", "q_cep_not_followed_by_interior",
    "q_cep_times_combinations", "q_llm_decontam_embed",
    "q_stream_window_dedup", "q_stream_tumble_grouping_sets",
    "q_subquery_corr", "q_subquery_scalar", "q_tpch_q7", "q_tpch_q10",
    "q_tpch_q14", "q_tpch_q4", "q_win_ntile", "q_agg_approx_uv_kmv",
    "q_agg_collect", "q_agg_cube", "q_agg_filtered", "q_agg_having",
    "q_agg_percentile", "q_agg_rollup", "q_agg_stats", "q_case_when",
    "q_cep_all_rows", "q_cep_all_rows_define", "q_cep_alternation",
    "q_cep_group_quantifier", "q_cep_measures", "q_cep_negation",
    "q_cep_pattern", "q_cep_permute", "q_cep_prev",
    "q_cep_quantifier", "q_cep_reluctant",
    "q_cep_skip_last", "q_cep_skip_next", "q_cep_unmatched_rows",
    "q_distinct", "q_dq_profile", "q_explode_array", "q_explode_outer",
    "q_filter_pred", "q_fn_monthmath", "q_fn_struct", "q_fn_url",
    "q_join_asof", "q_json_extract",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # q_warmup absolutely first: it absorbs the cold-harness JVM/Arrow
    # start-up cost that round-2 bench billed to the first real queries.
    back = [k for k in _VERIFIED_GREEN if k in QUERIES]
    head = [k for k in _REVERIFY_FRONT if k in QUERIES]
    rest = [
        k for k in QUERIES
        if k not in _VERIFIED_GREEN and k not in _REVERIFY_FRONT
        and k != "q_warmup"
    ]
    order = ["q_warmup"] + head + rest + back
    return {k: QUERIES[k] for k in order if k in QUERIES}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
