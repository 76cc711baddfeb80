"""Family digest suites — one driver-checkable row per SURVEY §2 family.

The correctness driver verifies queries in registry order under a fixed
budget (round 1 stopped after the first 50 of 136), so whole families —
windows, scalar functions, scans, streaming, the LLM suite — got no
hard driver verdict. Each ``suite_*`` query here compresses an entire
family into a handful of rows the driver *can* afford to check: for
every member query it computes, on BOTH engines,

    (branch, n_rows, digest)

where ``digest`` is an order-insensitive md5 over the member's full
result set: every output column is canonicalized to a string by type
("kind"), rows are joined with a control-char separator and md5-hashed,
the per-row hashes are sorted lexicographically (hex is ASCII-safe, so
Spark's ``array_sort`` and DuckDB's ``ORDER BY`` agree) and the
concatenation is hashed again. Any value difference in any member query
flips the digest, so one green suite row is a hard correctness verdict
for the whole family. The granular member queries stay registered
(after the priority block) as the fine-grained diagnostic.

Canonicalization kinds (must byte-match across engines):
  * str/int/bool/date — plain CAST AS STRING ("5", "true",
    "2024-01-01" are identical in Spark and DuckDB).
  * float — doubles round-trip differently through each engine's
    to-string (Java prints 1.0E7, DuckDB 10000000.0), so floats are
    mapped to BIGINT micros: CAST(round(x * 1e6) AS BIGINT). Member
    queries already round their float outputs so the underlying doubles
    are bit-identical (round 1: 130/136 hash-exact) and this mapping is
    exact. NaN is emitted as the literal 'NaN' (DuckDB refuses to cast
    NaN to BIGINT).
  * ts — epoch microseconds (Spark ``unix_micros`` / DuckDB
    ``epoch_us``); string forms differ in fractional-second padding.

NULLs are coalesced to a chr(1) sentinel *before* concat_ws (both
engines silently drop NULL arguments of concat_ws, which would alias
(NULL,'x') with ('x',NULL)).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import Query, _REGISTRY, query
from ._digest_spec import COLSPEC

# Digest construction reads members out of the registry, so the member
# modules must be populated before the module-level _make_suite loop
# runs. registry.all_queries() imports them first anyway; these imports
# make `import ...operators.suites` safe STANDALONE too (a test that
# touches only one operator module plus SUITES used to blow up here).
from . import analytics, etl, features, geo, graph, relational, setops, sketches  # noqa: F401,E402
from . import sql_surface, tpch_extra, upsert, windows  # noqa: F401,E402
from ..functions import scalar, udfs  # noqa: F401,E402
from ..sources import pyds, scans  # noqa: F401,E402
from ..streaming import batch_windows, ingest  # noqa: F401,E402
from ..llm import assembly, decontaminate, dedup, multimodal, retrieval, similarity, text  # noqa: F401,E402
from .. import generator  # noqa: F401,E402

_SEP = "\x1f"
_NULL = "\x01NULL"


# ---------------------------------------------------------------- Spark side
def _canon_spark(col_name: str, kind: str):
    c = F.col(col_name)
    if kind == "float":
        d = c.cast("double")
        v = F.when(F.isnan(d), F.lit("NaN")).otherwise(
            F.round(d * 1000000, 0).cast("bigint").cast("string")
        )
    elif kind == "ts":
        # cast handles TIMESTAMP_NTZ (session TZ is pinned UTC, so the
        # instant is unchanged); unix_micros only accepts TIMESTAMP.
        v = F.unix_micros(c.cast("timestamp")).cast("string")
    else:  # str / int / bool / date: engine-identical CAST AS STRING
        v = c.cast("string")
    return F.coalesce(v, F.lit(_NULL))


def _digest_spark(df: DataFrame, branch: str, cols: list[tuple[str, str]]) -> DataFrame:
    got = df.columns
    want = [c for c, _ in cols]
    if got != want:
        raise AssertionError(
            f"digest spec stale for {branch}: query emits {got}, spec has {want} "
            "— rerun tools/gen_digest_spec.py"
        )
    rh = F.md5(F.concat_ws(_SEP, *[_canon_spark(c, k) for c, k in cols]))
    return df.select(rh.alias("rh")).agg(
        F.lit(branch).alias("branch"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("rh")))).alias("digest"),
    )


# --------------------------------------------------------------- DuckDB side
def _canon_sql(col_name: str, kind: str) -> str:
    c = f'"{col_name}"'
    if kind == "float":
        v = (
            f"CASE WHEN isnan(CAST({c} AS DOUBLE)) THEN 'NaN' "
            f"ELSE CAST(CAST(round(CAST({c} AS DOUBLE) * 1000000, 0) AS BIGINT) AS VARCHAR) END"
        )
    elif kind == "ts":
        v = f"CAST(epoch_us({c}) AS VARCHAR)"
    else:
        v = f"CAST({c} AS VARCHAR)"
    return f"coalesce({v}, chr(1) || 'NULL')"


def _digest_sql(oracle: str, branch: str, cols: list[tuple[str, str]]) -> str:
    canon = ", ".join(_canon_sql(c, k) for c, k in cols)
    return (
        f"SELECT '{branch}' AS branch, count(*)::BIGINT AS n_rows,\n"
        f"       md5(coalesce(string_agg(rh, '' ORDER BY rh), '')) AS digest\n"
        f"FROM (SELECT md5(concat_ws(chr(31), {canon})) AS rh\n"
        f"      FROM (\n{oracle}\n) _q) _h"
    )


# ------------------------------------------------------------- registration
#: family -> member queries. Every member must already be registered
#: (suites are imported last by registry.all_queries) and, for the
#: digest to be oracle-checked, carry a DuckDB oracle; members without
#: one would make the whole suite rows-only, so they are not included.
SUITES: dict[str, list[str]] = {
    "suite_join_outer": ["join_left_outer", "join_right_outer", "join_full_outer"],
    "suite_join_misc": [
        "join_left_semi",
        "join_left_anti",
        "join_cross",
        "join_theta_nonequi",
        "join_range_interval",
        "join_skew_salted",
        "join_fuzzy_blocked",
        "join_asof_multi",
        "er_sorted_neighborhood",
        "join_interval_bucketed",
        "er_fellegi_sunter",
        "join_nearest_event",
        "join_inner_broadcast",
        "er_transitive_clusters",
        "er_golden_record",
    ],
    "suite_agg": [
        "agg_rollup",
        "agg_cube",
        "agg_grouping_sets",
        "agg_filtered",
        "agg_stats",
        "agg_pivot",
        "agg_string_concat",
        "agg_boolean",
        "agg_percentile_exact",
        "agg_hll_mergeable",
        "agg_collect",
        "agg_approx_quantile",
        "agg_mode",
        "agg_skew_kurtosis",
        "agg_entropy_gini",
        "agg_weighted_median",
        "agg_trimmed_mean",
        "agg_abc_classification",
        "agg_distinct",
        "agg_gini_concentration",
        "agg_pivot_multi",
        "agg_basic",
        "agg_approx_distinct",
    ],
    "suite_setops": [
        "set_union_all",
        "set_union_distinct",
        "set_union_by_name",
        "set_intersect",
        "set_except",
        "set_intersect_all",
        "set_except_all",
        "distinct_rows",
    ],
    "suite_sql_surface": [
        "sql_scalar_subquery",
        "sql_correlated_exists",
        "sql_in_subquery",
        "sql_cte_chain",
        "sql_recursive_cte",
        "fn_unpivot",
        "sql_session_variables",
        "sql_lateral_join",
        "sort_multi_nulls",
    ],
    "suite_window": [
        "window_gaps_islands",
        "window_rolling_median",
        "window_ranking",
        "window_lag_lead",
        "window_running",
        "window_range_frame",
        "window_cume_pct",
        "topk_per_group",
        "window_skyline_pareto",
        "limit_topk",
    ],
    "suite_fn_scalar": [
        "fn_url",
        "fn_string",
        "fn_string_split",
        "fn_date",
        "fn_math",
        "fn_predicates",
        "fn_conditional",
        "fn_regexp",
        "fn_hash",
        "fn_bitwise",
        "fn_try_arithmetic",
        "fn_datetime_advanced",
    ],
    "suite_fn_semistructured": [
        "fn_array",
        "fn_explode",
        "fn_map",
        "fn_json",
        "fn_json_roundtrip",
        "fn_variant",
    ],
    "suite_udf": [
        "udf_pandas_scalar",
        "udf_grouped_zscore",
        "udf_python_rowwise",
        "udtf_sentence_split",
    ],
    "suite_scans": [
        "scan_csv_roundtrip",
        "scan_json_roundtrip",
        "scan_orc_roundtrip",
        "scan_csv_permissive",
        "scan_partition_pruned",
        "scan_range_clustered",
        "scan_bucketed_join",
        "scan_schema_evolution",
        "scan_xml_roundtrip",
        "scan_jdbc_partitioned",
        "scan_python_datasource",
    ],
    "suite_streaming": [
        "stream_tumbling_window",
        "stream_sliding_window",
        "stream_session_window",
        "stream_dedup_first",
        "stream_rate_per_minute",
        "ts_resample_gapfill",
        "stream_interval_join",
        "stream_exec_tumbling",
        "stream_exec_session",
        "stream_exec_sliding",
        "stream_exec_upsert",
        "stream_exec_upsert_json",
        "stream_exec_dedup",
        "stream_exec_static_join",
        "stream_exec_custom_state",
        "stream_exec_stream_join",
        "stream_exec_stream_join_watermarked",
        "stream_exec_stream_join_outer_watermarked",
        "stream_exec_dedup_watermarked",
        "stream_exec_sketch_merge",
        "stream_exec_cdc",
        "stream_exec_topk_merge",
        "stream_exec_asof_join",
        "stream_exec_asof_join_watermarked",
    ],
    "suite_dedup": [
        "dedup_exact",
        "dedup_url_canonical",
        "dedup_substring",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "dedup_keep_best",
        "dedup_connected_components",
        "dedup_connected_components_star",
        "dedup_containment",
        "dedup_containment_lsh",
        "dedup_semantic",
        "dedup_soft_weights",
        "dedup_incremental_bloom",
        "dedup_minhash_bbit",
        "dedup_incremental_minhash",
    ],
    "suite_sim": [
        "sim_bruteforce_topk",
        "sim_bruteforce_pandas",
        "sim_lsh_ann",
        "sim_ivf_ann",
        "sim_ivf_incremental",
        "sim_index_maintenance",
        "sim_ivf_sq8",
        "sim_ivf_sq8_rerank",
        "sim_ivf_truepq",
        "sim_ivf_truepq_rerank",
        "sim_label_centroid",
        "sim_range_search",
        "embed_normalize_quantize",
        "embed_gram_matrix",
        "embed_pca_project",
        "kmeans_train",
        "text_bm25_topk",
        "sim_hybrid_rrf",
        "sim_mmr_rerank",
        "sim_late_interaction",
        "sim_binary_quantized",
        "sim_matryoshka_truncation",
        "sim_hard_negatives",
        "sim_bitext_margin_mining",
        "sim_eval_ir_metrics",
        "text_querylm_dirichlet",
        "text_rocchio_prf",
        "embed_isotropy_score",
        "sim_mips_transform",
        "quality_embedding_drift",
        "sim_mmr_diversify",
        "sim_ivf_staged",
        "sim_ivf_staged_pq",
    ],
    "suite_text": [
        "corpus_dataset_card",
        "text_perplexity_filter",
        "text_stats",
        "text_langid",
        "text_quality",
        "text_fingerprint",
        "text_token_count",
        "text_tfidf_topterms",
        "text_bigrams",
        "text_redact_pii",
        "corpus_curation_pipeline",
        "text_unigram_logprob",
        "text_inverted_index",
        "decontaminate_ngram",
        "decontaminate_fractional",
        "text_repetition",
        "corpus_ppl_buckets",
        "classifier_train_logreg",
        "classifier_train_nb",  # counting-pass NB + confusion matrix
        "text_kneser_ney_bigram",  # KN-smoothed bigram LM scoring
        "text_winnowing",  # MOSS winnowing fingerprints
        "text_gopher_rules",
        "bpe_pair_counts",
        "bpe_train_merges",
        "bpe_encode_corpus",
        "classifier_score_docs",
        "text_ngram_novelty",
        "decontaminate_semantic",
        "decontaminate_semantic_lsh",
        "text_zipf_hapax",
        "text_oov_rate",
        "text_boilerplate_ngrams",
    ],
    "suite_multimodal": [
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_resize",
        "multimodal_chunk_energy",
        "multimodal_decode_bmp",
        "multimodal_decode_wav",
    ],
    "suite_assembly": [
        "pack_token_budget",
        "sample_stratified",
        "sample_balanced_sources",
        "mix_sources",
        "mix_temperature",
        "chunk_context_windows",
        "shard_manifest",
        "sample_weighted_reservoir",
        "sample_importance_resampling",
        "pack_interleave_domains",
        "sample_train_test_split",
        "sample_neyman_allocation",
        "pack_curriculum_order",
        "mix_token_budget",
        "pack_length_buckets",
        "pack_bestfit_windows",
        "mix_unimax",
        "mix_quality_topq",
        "corpus_assembly_pipeline",
    ],
    "suite_tpch": [
        "q6_forecast_revenue",
        "q2_min_cost_supplier",
        "q3_shipping_priority",
        "q4_order_priority",
        "q5_region_revenue",
        "q7_nation_volume",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_items",
        "q11_important_stock",
        "q12_shipmode_priority",
        "q13_order_count_distribution",
        "q14_promo_revenue_pct",
        "q15_top_supplier",
        "q16_supplier_part_stats",
        "q17_small_quantity_revenue",
        "q18_large_volume_customer",
        "q19_disjunctive_predicates",
        "q20_potential_promotion",
        "q21_suppliers_kept_waiting",
        "q22_global_sales_opportunity",
    ],
    "suite_etl_misc": [
        "upsert_merge",
        "cdc_apply_changes",
        "snapshot_diff",
        "upsert_reference_policy",
        "scd2_current_snapshot",
        "scd2_intervals",
        "sample_stable_hash",
        "etl_winsorize",
        "etl_dense_surrogate_ids",
        "etl_partition_checksums",
        "etl_pseudonymize_keys",
    ],
    "suite_analytics": [
        "events_funnel",
        "events_retention_cohort",
        "events_retention_triangle",
        "events_sessionize",
        "profile_table",
        "mv_incremental_refresh",
        "graph_pagerank",
        "basket_copurchase",
        "events_transition_matrix",
        "join_asof_tolerance",
        "events_rolling_active_users",
        "privacy_k_anonymity",
        "events_ewma",
        "graph_triangle_count",
        "graph_triangle_doulion",
        "graph_triangle_capped",
        "quality_expectations",
        "events_shapley_attribution",
        "privacy_l_diversity",
        "privacy_dp_count_laplace",
        "events_rfm_segmentation",
        "events_markov_attribution",
        "ts_seasonal_decompose",
        "graph_jaccard_neighbors",
        "graph_bfs_reach",
        "graph_neighborhood_function",
        "graph_neighborhood_registers",
        "graph_effective_diameter",
        "events_survival_km",
        "graph_hits",
        "ts_autocorrelation",
        "ts_cusum_changepoint",
        "ts_theil_sen",
        "feature_target_encode_loo",
        "feature_woe_iv",
        "events_pattern_match",
        "ts_brown_des_forecast",
        "graph_kcore",
        "privacy_t_closeness",
        "feature_quantile_binning",
        "graph_label_propagation",
        "ts_holt_winters",
        "ts_backtest_rolling",
        "events_cohort_ltv",
        "ts_croston_forecast",
        "graph_personalized_pagerank",
        "ts_ses_alpha_select",
        "feature_count_encode_rare",
        "graph_bipartite_projection",
        "ts_forecast_reconciliation",
        "privacy_randomized_response",
        "feature_hashing_trick",
        "feature_quantile_normalize",
    ],
    # the hypothesis-test / monitor family has its own digest row, so
    # one red row localizes to a family and a row's cost stays bounded
    "suite_stats": [
        "events_abtest_welch",
        "events_uplift_cuped",
        "events_anova_f",
        "events_chisq_independence",
        "events_mannwhitney_u",
        "events_ks_test",
        "events_anomaly_days",
        "quality_drift_psi",
        "quality_benford",
        "quality_outlier_mad",
        "agg_regression_ols",
        "classifier_calibration_ece",
        "quality_referential_integrity",
        "events_did_estimator",
        "events_sprt_sequential",
        "events_window_funnel",
        "events_power_analysis",
        "events_velocity_flags",
        "events_bayesian_ab",
        "sample_poisson_bootstrap",
        "privacy_dp_quantile",
        "classifier_lift_gains",
    ],
    "suite_sketches": [
        "sketch_countmin_heavyhitters",
        "sketch_kmv_distinct",
        "sketch_bloom_membership",
        "sketch_theta_intersect",
        "sketch_histogram_quantiles",
        "sketch_ams_f2",
    ],
    "suite_geo": [
        "geo_grid_density",
        "geo_radius_join",
        "geo_nearest_hub",
        "geo_hotspot_clusters",
        "graph_clustering_coefficient",
    ],
}


def _make_suite(suite_name: str, members: list[str]):
    branches: list[Query] = []
    for m in members:
        q = _REGISTRY.get(m)
        if q is None:
            raise KeyError(f"{suite_name}: member {m!r} not registered")
        if q.oracle is None:
            raise ValueError(f"{suite_name}: member {m!r} has no oracle")
        if m not in COLSPEC:
            if os.environ.get("SPARK_GRAFT_SPECGEN"):
                return  # spec generator bootstrapping a new member
            raise KeyError(f"{suite_name}: member {m!r} missing from digest spec")
        branches.append(q)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        parts = [
            _digest_spark(q.fn(spark, sf_dir), q.name, COLSPEC[q.name])
            for q in branches
        ]
        return reduce(DataFrame.unionByName, parts)

    fn.__name__ = suite_name
    fn.__doc__ = (
        f"Family digest over {len(members)} member queries "
        f"({', '.join(members)}): per-member order-insensitive md5 of the "
        "full result set, computed identically on Spark and DuckDB. One "
        "green driver row == every member's values match the oracle."
    )
    oracle = "\nUNION ALL\n".join(
        _digest_sql(q.oracle, q.name, COLSPEC[q.name]) for q in branches
    )
    query(suite_name, oracle=oracle, doc=fn.__doc__)(fn)


for _name, _members in SUITES.items():
    _make_suite(_name, _members)
