"""Benchmark harness: runs the frozen query sets (``SETS``) at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS].

Protocol: one warm-up pass of every query at sf0.001 (its wall clock is
recorded as ``warmup_sec``), then REPS (default 5) timed reps per query
in fixed order. A rep times ``fn()`` plus a ``count()`` sink; the
reported number is the median rep.

Stdout is 24 compact JSON lines, one layout for every set:

1. head copies: one full line per set in ``SETS`` order, with the set's
   medians under ``queries``, its total under ``value``, the
   batch/streaming split and the host fields (loadavg, warm-up, CPU
   calibration);
2. tail copies (``"dup":true``): one minimal line per set (metric,
   value, sf, load1), oldest set first;
3. one summary line carrying every set's value and batch value;
4. the full HEADLINE line again, last.

The driver keeps only about the last 2 KB of stdout, so the tail block
repeats every value in little space, newest last, and the frozen
HEADLINE line is both the first and the last line. Per-query spreads
and counters go to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
# ^ the session default is local[4]; every measurement must use the
#   full box unless the caller explicitly says otherwise (r10 found
#   a whole day of scale numbers silently taken at 4 cores).

from aws_etl_pipeline_spark.profile import Probe, measure, warm
from aws_etl_pipeline_spark.registry import all_queries
from aws_etl_pipeline_spark.session import get_spark, stop_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The frozen sets in priority order: (metric, members). A set is frozen
#: once a bench records its first point, so every metric stays comparable
#: across rounds; a new surface gets a new set, never new members in an
#: old one. Members are named as they were when the set froze.
SETS: tuple[tuple[str, tuple[str, ...]], ...] = (
    # one per operator family; the O(n^2) pairwise dedup demos are out
    ("headline_query_set_wall_clock", (
        "etl_flagship", "q1_pricing_summary", "q3_shipping_priority",
        "q5_region_revenue", "q6_forecast_revenue", "q7_nation_volume",
        "q12_shipmode_priority", "q16_supplier_part_stats",
        "q18_large_volume_customer", "q19_disjunctive_predicates",
        "sql_cte_chain", "join_asof", "join_skew_salted", "agg_rollup",
        "agg_distinct", "window_ranking", "topk_per_group", "set_union_all",
        "stream_tumbling_window", "stream_session_window", "upsert_merge",
        "dedup_exact", "dedup_minhash_lsh", "sim_bruteforce_topk",
        "sim_lsh_ann", "sim_ivf_ann", "text_stats", "corpus_curation_pipeline",
        "text_tfidf_topterms", "multimodal_features", "multimodal_resize",
        "sample_stable_hash", "scd2_intervals",
    )),
    # round 7: the heavy post-r1 operators
    ("headline_ext_query_set_wall_clock", (
        "stream_exec_upsert_json", "sim_ivf_sq8", "sim_ivf_truepq",
        "dedup_semantic", "dedup_containment_lsh", "dedup_substring",
        "sample_importance_resampling", "graph_triangle_count",
        "bpe_train_merges",
    )),
    # late round 7: sketches, retrieval, governance, edge-Jaccard
    ("headline_r8_query_set_wall_clock", (
        "sketch_countmin_heavyhitters", "sketch_kmv_distinct",
        "sketch_bloom_membership", "sketch_theta_intersect",
        "sketch_histogram_quantiles", "stream_exec_sketch_merge",
        "text_bm25_topk", "sim_hybrid_rrf", "sim_matryoshka_truncation",
        "sim_hard_negatives", "quality_expectations",
        "privacy_dp_count_laplace", "ts_seasonal_decompose",
        "graph_jaccard_neighbors", "join_asof_multi", "er_sorted_neighborhood",
    )),
    # round 8: watermarked stream join, semantic-decon LSH (the two
    # connected-components queries sit on an O(n^2) fixture and are out)
    ("headline_r9_query_set_wall_clock", (
        "stream_exec_stream_join_watermarked", "decontaminate_semantic_lsh",
        "graph_kcore", "text_winnowing", "text_kneser_ney_bigram",
        "classifier_train_nb", "quality_benford",
    )),
    # late round 8 (sim_bitext_margin_mining is O(n^2) and out)
    ("headline_r10_query_set_wall_clock", (
        "join_interval_bucketed", "privacy_t_closeness",
        "events_chisq_independence", "feature_quantile_binning",
        "graph_label_propagation", "events_anova_f", "ts_holt_winters",
        "window_skyline_pareto", "events_mannwhitney_u", "events_ks_test",
        "graph_hits", "agg_trimmed_mean", "agg_abc_classification",
        "etl_partition_checksums", "er_fellegi_sunter", "ts_backtest_rolling",
        "events_cohort_ltv", "sample_neyman_allocation", "dedup_soft_weights",
    )),
    # round 9
    ("headline_r11_query_set_wall_clock", (
        "sim_eval_ir_metrics", "classifier_calibration_ece",
        "quality_referential_integrity", "text_zipf_hapax", "text_oov_rate",
        "text_boilerplate_ngrams", "text_querylm_dirichlet", "text_rocchio_prf",
        "join_nearest_event", "ts_croston_forecast",
        "privacy_randomized_response", "pack_curriculum_order",
        "events_did_estimator", "agg_gini_concentration",
        "embed_isotropy_score", "mix_token_budget", "fn_datetime_advanced",
        "sketch_ams_f2", "stream_exec_topk_merge", "feature_hashing_trick",
    )),
    # round 10
    ("headline_r12_query_set_wall_clock", (
        "pack_bestfit_windows", "text_perplexity_filter",
        "events_retention_triangle", "mix_unimax", "pack_token_budget",
        "events_rfm_segmentation", "geo_nearest_hub", "kmeans_train",
    )),
    # round 11
    ("headline_r13_query_set_wall_clock", (
        "sim_ivf_staged", "graph_personalized_pagerank", "events_bayesian_ab",
        "sample_poisson_bootstrap", "privacy_dp_quantile",
        "classifier_lift_gains", "mix_quality_topq",
        "graph_clustering_coefficient", "er_transitive_clusters",
        "sim_ivf_staged_pq",
    )),
    # round 12
    ("headline_r14_query_set_wall_clock", (
        "graph_triangle_doulion", "graph_triangle_capped",
        "stream_exec_asof_join_watermarked", "corpus_assembly_pipeline",
        "sim_mmr_rerank", "er_golden_record", "decontaminate_fractional",
        "sim_late_interaction", "sim_binary_quantized",
    )),
    # round 13
    ("headline_r15_query_set_wall_clock", (
        "graph_neighborhood_registers", "multimodal_decode_bmp",
        "feature_quantile_normalize", "graph_effective_diameter",
        "sim_ivf_incremental",
    )),
    # round 14
    ("headline_r16_query_set_wall_clock", (
        "dedup_incremental_minhash", "multimodal_decode_wav",
        "sim_index_maintenance",
    )),
)

WARMUP_SF = "/root/testdata/sf0.001"


REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_calibration() -> tuple[float, float]:
    """Fixed pure-CPU marker (r13 verdict #5): the r13 box-shift
    adjudication needed two full quiet reruns to prove 'uniform
    inflation'. This pins a deterministic single-threaded numpy
    sweep (4M-element fused sqrt/mul/add x60, no BLAS threading, no
    allocation churn after warm-up) whose wall time depends only on
    the host's effective CPU speed — so cross-round normalization of
    medians is mechanical: divide by the calib ratio. One warm-up
    pass first (first touch pays page faults; ~2x)."""
    import numpy as np

    def one_pass() -> float:
        a = np.arange(1 << 22, dtype=np.float64)
        t0 = time.time()
        for _ in range(60):
            a = np.sqrt(a * 1.000001 + 1.0)
        return time.time() - t0

    one_pass()  # warm-up (page faults, code paths)
    calib = round(one_pass(), 3)
    try:
        mhz = [
            float(line.split(":")[1])
            for line in open("/proc/cpuinfo")
            if line.startswith("cpu MHz")
        ]
        mean_mhz = round(sum(mhz) / len(mhz), 1) if mhz else None
    except OSError:
        mean_mhz = None
    return calib, mean_mhz


def _sf(sf_dir: str) -> float | None:
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        return None  # non-standard dir name (e.g. a scale replica)


def emit(results, warmup_sec: float, sf: float | None, host: dict) -> None:
    """Print the stdout layout of the module docstring, and each set's
    spreads on stderr. ``results`` holds (metric, medians, spreads) per
    set in ``SETS`` order; ``host`` holds ``loadavg_start``,
    ``cpu_calib_sec`` and ``cpu_mhz``."""
    loadavg_end = _loadavg()
    fields = []
    for metric, timings, _ in results:
        f = {
            "metric": metric,
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "reps": REPS,
            "stat": "median",
            "warmup_sec": warmup_sec,
            "loadavg_start": host["loadavg_start"],
            "loadavg_end": loadavg_end,
            "cpu_calib_sec": host["cpu_calib_sec"],
            "cpu_mhz": host["cpu_mhz"],
        }
        # the streaming-drain fixtures cost fixture time, not plan time:
        # value_batch lets trend tools watch the batch plans alone
        stream_t = {k: v for k, v in timings.items() if k.startswith("stream_exec_")}
        f["value_batch"] = round(f["value"] - sum(stream_t.values()), 3)
        if stream_t:
            f["value_streaming"] = round(sum(stream_t.values()), 3)
            f["streaming_members"] = sorted(stream_t)
        fields.append(f)

    def line(d: dict) -> None:
        print(json.dumps(d, separators=(",", ":")), flush=True)

    for f in fields:
        line(f)
    for f, (_, _, spread) in zip(fields, results):
        print(json.dumps({**f, "spread": spread}), file=sys.stderr)
    load1 = [host["loadavg_start"][0], loadavg_end[0]]
    for f in fields:
        line({"metric": f["metric"], "value": f["value"], "unit": "sec", "sf": sf,
              "load1": load1, "dup": True})

    def short(f: dict) -> str:
        return f["metric"].replace("_query_set_wall_clock", "")

    line({
        "metric": "all_query_set_wall_clocks",
        "values": {short(f): f["value"] for f in fields},
        "values_batch": {short(f): f["value_batch"] for f in fields if "value_streaming" in f},
        "unit": "sec",
        "sf": sf,
        "load1": load1,
        "cpu_calib_sec": host["cpu_calib_sec"],
        "dup": True,
    })
    line({**fields[0], "dup": True})


def main() -> None:
    host = {"loadavg_start": _loadavg()}
    host["cpu_calib_sec"], host["cpu_mhz"] = _cpu_calibration()
    queries = all_queries()
    spark = get_spark("bench")
    probe = Probe(spark)
    names = [name for _, members in SETS for name in members]
    warmup_sec = round(warm(spark, queries, names, WARMUP_SF), 3)
    results = []
    for metric, members in SETS:
        timings: dict[str, float] = {}
        spread: dict[str, list[float]] = {}
        for name in members:
            reps = sorted(measure(spark, queries[name].fn, SF_DIR, REPS, probe),
                          key=lambda r: r.seconds)
            mid = reps[len(reps) // 2]
            cost = mid.built + mid.ran
            timings[name] = round(mid.seconds, 3)
            spread[name] = [round(reps[0].seconds, 3), round(reps[-1].seconds, 3)]
            print(
                f"# {name}: median {timings[name]}s "
                f"[{spread[name][0]}..{spread[name][1]}] ({mid.rows} rows) "
                f"jobs={cost.jobs} py4j={cost.py4j} compiles={cost.compiles}",
                file=sys.stderr,
            )
        results.append((metric, timings, spread))
    emit(results, warmup_sec, _sf(SF_DIR), host)
    stop_spark(spark)


if __name__ == "__main__":
    main()
