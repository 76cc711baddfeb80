"""Plan-shape assertions — the 100 TB design contract, checked on the
physical plans Catalyst actually produces: pushdown reaches the scan,
small dimensions broadcast, hot paths stay in whole-stage codegen."""

import itertools
import re

import pytest
from pyspark.sql import functions as F

from aws_etl_pipeline_spark.catalog import load_table
from aws_etl_pipeline_spark.plans.explain import plan_string as _plan
from aws_etl_pipeline_spark.plans.explain import (
    pushed_filters,
    python_eval_nodes,
    read_schema_columns,
)


def test_filter_pushdown_to_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert any(f.startswith("LessThanOrEqual(l_shipdate") for f in pf), pf


def test_column_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cols = read_schema_columns(li.select("l_orderkey", "l_quantity"))
    assert "l_orderkey" in cols and "l_quantity" in cols
    assert "l_extendedprice" not in cols


def test_broadcast_join_for_small_dim(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.relational import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_flagship_is_single_codegen_projection(spark, sf_dir):
    # The whole R3-R14 chain must fuse: no exchange, no Python eval.
    from aws_etl_pipeline_spark.operators.etl import etl_flagship

    df = etl_flagship(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, "flagship transform must not shuffle"
    assert not python_eval_nodes(df)
    # formatted mode marks codegen'd operators with '*'
    assert "* Project" in plan and "* Filter" in plan


def test_scalar_batteries_no_python(spark, sf_dir):
    from aws_etl_pipeline_spark.functions.scalar import fn_math, fn_string

    for q in (fn_math, fn_string):
        assert not python_eval_nodes(q(spark, sf_dir)), (
            f"{q.__name__} fell off the JVM path"
        )


def test_topk_uses_take_ordered(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.relational import limit_topk

    plan = _plan(limit_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "global top-k should not full-sort"


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """bucketBy on the join key co-locates both sides: the sort-merge
    join needs no Exchange — the mechanism that amortizes fact-fact
    shuffles across repeated joins at 100 TB (SCALING.md Joins)."""
    # (warehouse dir is a static conf — bucketed tables land in the
    # default ./spark-warehouse, which is gitignored)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        "b_orders"
    )
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        "b_lineitem"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partition_pruning_on_hive_layout(spark, tmp_path):
    # write partitioned (R21 layout), read back with a partition filter:
    # the scan must prune to one partition directory
    from aws_etl_pipeline_spark.generator import generate_historical
    import datetime as dt

    df = generate_historical(spark, days_back=3, end_date=dt.date(2024, 3, 15))
    df = df.withColumn("day", F.substring("date", 9, 2))
    out = str(tmp_path / "part")
    df.write.partitionBy("day").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).filter(F.col("day") == "14")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(day" in plan
    assert back.count() > 0


def test_bloom_filter_runtime_join_pruning(spark, sf_dir):
    """The 100 TB fact-fact path: when neither join side broadcasts,
    Spark can inject a bloom filter built from the selective side into
    the large side's scan (runtime row-group pruning). Thresholds are
    lowered here to trigger the rewrite at test scale; at real scale
    the defaults (10 MB creation side) fire on any selective dimension
    filter."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        plan = _plan(li.join(o, li.l_orderkey == o.o_orderkey).select("l_quantity"))
        assert "bloom" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    """Both sides are written bucketed 8 ways on the order key, so the
    sort-merge join must consume the on-disk layout: zero shuffle
    exchanges anywhere in the plan (broadcast disabled to force the
    merge path the 100 TB fact-fact join would take)."""
    from aws_etl_pipeline_spark.sources.scans import scan_bucketed_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = scan_bucketed_join(spark, sf_dir)
        plan = _plan(df)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_range_clustered_files_have_disjoint_spans(spark, sf_dir):
    """repartitionByRange + sortWithinPartitions must yield files whose
    l_shipdate ranges are pairwise non-overlapping — the property that
    lets footer min/max skip whole files for a date-range scan."""
    from aws_etl_pipeline_spark import staging
    from aws_etl_pipeline_spark.sources.scans import scan_range_clustered
    from aws_etl_pipeline_spark.schemas import TESTDATA

    scan_range_clustered(spark, sf_dir)  # materializes the fixture
    out = staging.location("range_lineitem", sf_dir)
    spans = (
        spark.read.schema(TESTDATA["lineitem"])
        .parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(spans) > 1
    for prev, cur in zip(spans, spans[1:]):
        assert prev["hi"] <= cur["lo"], (prev, cur)


def test_range_clustered_scan_pushes_date_filter(spark, sf_dir):
    """The date predicate must reach the parquet scan (row-group
    skipping), not sit in a post-scan Filter only."""
    from aws_etl_pipeline_spark.sources.scans import scan_range_clustered

    df = scan_range_clustered(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_gapfill_join_is_broadcast(spark, sf_dir):
    """The dense-grid gap-fill join must broadcast the tiny aggregated
    side — no shuffle of the grid or a sort-merge join."""
    from aws_etl_pipeline_spark.streaming.batch_windows import ts_resample_gapfill

    plan = _plan(ts_resample_gapfill(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def _nodes(plan: str, name: str) -> int:
    """Count physical-plan nodes of a given name in 'formatted' output
    (the tree AND the detail section both mention each node; the detail
    lines '(N) <Name>' are the unambiguous count)."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\b", plan, flags=re.M))


def test_curation_pipeline_single_scan_two_exchanges(spark, sf_dir):
    # corpus_curation_pipeline claims fusion: the corpus read ONCE, no
    # Python, and exactly two data shuffles (fingerprint window + final
    # groupBy with map-side partial) — the whole-pipeline shape a
    # 100 TB curation run needs.
    from aws_etl_pipeline_spark.llm.text import corpus_curation_pipeline

    df = corpus_curation_pipeline(spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "Scan parquet") == 1, "documents scanned more than once"
    assert not python_eval_nodes(df), "Python in the curation hot path"
    assert _nodes(plan, "Exchange") == 2, f"expected 2 shuffles:\n{plan}"


def test_tfidf_single_word_shuffle(spark, sf_dir):
    # tfidf_top_terms claims the exploded word stream is materialized
    # and shuffled ONCE (df derives from the tf aggregate, not a second
    # explode). A second metadata-only scan computes the corpus-size
    # scalar — parquet answers count(*) from footers, so that scan is
    # free at any SF.
    from aws_etl_pipeline_spark.api import tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    df = tfidf_top_terms(d, "doc_id", "text", k=3)
    plan = _plan(df)
    assert _nodes(plan, "Generate") == 1, f"word stream exploded more than once:\n{plan}"
    assert _nodes(plan, "Scan parquet") <= 2, plan


def test_fuzzy_join_is_blocked_hash_join(spark, sf_dir):
    # join_fuzzy_blocked's 100 TB contract: candidate pairs come from a
    # HASH equi-join on cheap blocking keys (length + typo-folded
    # prefix); levenshtein runs only inside blocks. An all-pairs
    # nested-loop would be quadratic in the corpus and is forbidden.
    from aws_etl_pipeline_spark.operators.relational import join_fuzzy_blocked

    df = join_fuzzy_blocked(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert not python_eval_nodes(df), "levenshtein must stay JVM-side"

    rows = df.collect()
    assert rows, "perturbed copies must find matches"
    by_id = {r.dirty_id: r for r in rows}
    assert len(by_id) == len(rows), "one best match per dirty row"
    for r in rows:
        assert r.dirty_id % 7 == 0
        assert 0 <= r.lev <= 10
        # the dirty row's own clean twin is always a candidate (same
        # length, same folded prefix), so the winner can never be
        # farther than the self-edit distance (= count of 'a's).
    names = {
        p.p_partkey: p.p_name
        for p in load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select("p_partkey", "p_name")
        .collect()
    }
    for r in rows:
        self_dist = names[r.dirty_id].count("a")
        if self_dist <= 10:
            assert r.lev <= self_dist, (r, names[r.dirty_id])


def test_text_repetition_zero_shuffle(spark, sf_dir):
    # text_repetition claims every repetition signal is a per-row
    # expression (sorted-run-length fold for the top bigram) — the
    # whole operator must be a map over the scan: no Exchange, no
    # join, no Python.
    from aws_etl_pipeline_spark.llm.text import text_repetition

    df = text_repetition(spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "Exchange") == 0, f"expected zero shuffles:\n{plan}"
    assert "Join" not in plan, plan
    assert not python_eval_nodes(df)


def test_weighted_reservoir_is_take_ordered(spark, sf_dir):
    # The A-ES weighted sample must execute as a global top-k
    # (per-partition heap + driver merge), never a full sort/shuffle.
    from aws_etl_pipeline_spark.llm.assembly import sample_weighted_reservoir

    df = sample_weighted_reservoir(spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert _nodes(plan, "Exchange") == 0, plan
    assert not python_eval_nodes(df)


def test_dedup_substring_shuffles_hashes_not_text(spark, sf_dir):
    # The passage-dedup reduce must group on the 16-byte passage hash
    # with map-side combine (partial HashAggregate below the agg
    # Exchange), and the full document text must never appear in any
    # post-scan schema wider than the word explode.
    from aws_etl_pipeline_spark.llm.dedup import dedup_substring

    df = dedup_substring(spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "HashAggregate") >= 2, plan  # partial + final
    assert "CartesianProduct" not in plan
    assert not python_eval_nodes(df)


def test_rolling_active_users_explodes_pairs_not_events(spark, sf_dir):
    # The 7x Generate must sit ABOVE the (user, day) dedup aggregate,
    # so the explosion applies to deduped pairs, never raw events.
    from aws_etl_pipeline_spark.operators.analytics import (
        events_rolling_active_users,
    )

    df = events_rolling_active_users(spark, sf_dir)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    gen = tree.index("Generate")
    assert "HashAggregate" in tree[gen:] or "Aggregate" in tree[gen:], tree
    assert not python_eval_nodes(df)


def test_simhash_single_agg_shuffle(spark, sf_dir):
    # simhash sums all 16 bit-votes as conditional aggregates in ONE
    # doc-keyed groupBy: exactly two Exchanges total (load_spread's
    # explicit round-robin + the agg shuffle) and no crossJoin-with-
    # range(bits) row expansion (round-4 advice: the old spelling's
    # first shuffle was 16x the word stream, plus a third Exchange).
    from aws_etl_pipeline_spark.llm.dedup import dedup_simhash

    df = dedup_simhash(spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "Exchange") == 2, f"unexpected shuffle count:\n{plan}"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert not python_eval_nodes(df)


def test_gram_matrix_pair_expansion_never_shuffles(spark, sf_dir):
    # embed_gram_matrix claims the 2080x in-row pair expansion never
    # hits the wire: partial (map-side) aggregation must sit BELOW the
    # single Exchange, so the shuffle carries O(dim^2 x partitions).
    from aws_etl_pipeline_spark.llm.similarity import embed_gram_matrix

    df = embed_gram_matrix(spark, sf_dir)
    plan = _plan(df)
    # exactly two exchanges: load_spread's round-robin repartition of
    # the small-file input (parallelism, carries RAW vectors — gone at
    # production file counts) and the (i, j) agg shuffle. The pair
    # expansion itself must never shuffle.
    assert _nodes(plan, "Exchange") == 2, f"unexpected shuffle count:\n{plan}"
    assert _nodes(plan, "Generate") == 2, plan
    # partial (map-side) aggregation below the agg shuffle: tree order
    # is final HashAggregate -> Exchange -> partial HashAggregate ->
    # Generate, so two HashAggregates must exist and one must sit
    # between the agg Exchange and the Generates.
    assert _nodes(plan, "HashAggregate") == 2, plan
    tree = plan.split("\n\n")[0]
    assert tree.index("HashAggregate") < tree.index("Exchange"), tree
    between = tree[tree.index("Exchange"): tree.index("Generate")]
    assert "HashAggregate" in between, tree
    assert not python_eval_nodes(df)


def test_semantic_dedup_broadcasts_centroids_no_pair_cartesian(spark, sf_dir):
    # dedup_semantic's cluster assignment is a PROJECTION over the
    # literal centroid set (r15 lloyd_assign: least() over (d2, cell)
    # structs — no centroid join of any kind survives in the plan);
    # the within-cell pair stage must be an EQUI-join on cell, never a
    # CartesianProduct/nested loop, and nothing evaluates Python.
    from aws_etl_pipeline_spark.llm.dedup import dedup_semantic

    df = dedup_semantic(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "least(" in plan  # the literal-centroid argmin projection
    assert not python_eval_nodes(df)


def test_containment_lsh_candidates_are_equi_join(spark, sf_dir):
    # The candidate stage must join on (band_idx, band_hash) as an
    # equi-join — same-bucket docs only, no all-pairs nested loop — and
    # the exact scoring must touch only the candidate join output.
    from aws_etl_pipeline_spark.llm.dedup import dedup_containment_lsh

    df = dedup_containment_lsh(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not python_eval_nodes(df)


def test_ivf_sq8_broadcasts_queries_no_cartesian_rescore(spark, sf_dir):
    # sim_ivf_sq8's rescore joins candidates to the broadcast query set
    # and the quantized corpus by key; the only nested-loop joins are
    # the tiny centroid broadcasts in assignment/probing (shared with
    # sim_ivf_ann), never a corpus-sized cartesian.
    from aws_etl_pipeline_spark.llm.similarity import sim_ivf_sq8

    df = sim_ivf_sq8(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan  # query-set broadcast in rescore
    assert not python_eval_nodes(df)


def test_ivf_truepq_all_index_joins_keyed(spark, sf_dir):
    # True-PQ: codebook training assigns via a broadcast equi-join on
    # the subspace key, encoding is the same broadcast join, and ADC
    # scoring joins candidates to the broadcast LUT / codeword-sqnorm
    # tables on (query, sub, code) — nothing may nest loops over the
    # corpus and no Python may appear anywhere in the pipeline.
    from aws_etl_pipeline_spark.llm.similarity import sim_ivf_truepq

    df = sim_ivf_truepq(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert not python_eval_nodes(df)


def _subtree(plan: str, node_id: str) -> list[str]:
    """The formatted plan's tree lines for operator ``(node_id)`` and
    everything under it."""
    tree = plan.split("\n\n", 1)[0].splitlines()
    start = next(i for i, ln in enumerate(tree) if ln.endswith(f"({node_id})"))

    def depth(line: str) -> int:
        return line.find("+- ")

    return [tree[start]] + list(
        itertools.takewhile(
            lambda ln: depth(ln) > depth(tree[start]), tree[start + 1 :]
        )
    )


@pytest.mark.parametrize("name", ["sim_ivf_sq8_rerank", "sim_ivf_truepq_rerank"])
def test_ivf_rerank_broadcasts_only_the_query_rows(spark, sf_dir, name):
    """The rerank's broadcast side (query_id, qv, qnrm) is the query
    rows, filtered to vec_id < N_QUERIES in the query's own plan, so it
    stays request-sized when constraint propagation, which could infer
    the bound from the join, is switched off."""
    from aws_etl_pipeline_spark.llm.similarity import N_QUERIES
    from aws_etl_pipeline_spark.registry import all_queries

    conf = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        plan = _plan(all_queries()[name].fn(spark, sf_dir))
    finally:
        spark.conf.set(conf, prev)
    (bx,) = re.findall(
        r"\((\d+)\) BroadcastExchange\nInput \[3\]: \[query_id#\d+L, qv#\d+, qnrm#\d+\]",
        plan,
    )
    filters = [
        re.search(r"\((\d+)\)$", ln).group(1)
        for ln in _subtree(plan, bx)
        if "Filter (" in ln
    ]
    conditions = [
        re.search(rf"\({f}\) Filter\n.*\nCondition : (.*)", plan).group(1)
        for f in filters
    ]
    assert any(
        re.search(rf"vec_id#\d+L < {N_QUERIES}\b", c) for c in conditions
    ), (conditions, plan)


def test_dsir_feature_models_broadcast(spark, sf_dir):
    # The 64-row log-ratio relation must broadcast into the word
    # stream (never shuffle the corpus by bucket), and the final
    # selection must be a global top-k, not a sort.
    from aws_etl_pipeline_spark.llm.assembly import sample_importance_resampling

    df = sample_importance_resampling(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert not python_eval_nodes(df)


def test_logreg_training_no_wide_shuffle(spark, sf_dir):
    # Weight/gradient relations are 16 rows: every weight join must be
    # broadcast, nothing may nest loops over the corpus, no Python.
    from aws_etl_pipeline_spark.llm.text import classifier_train_logreg

    df = classifier_train_logreg(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert not python_eval_nodes(df)


def test_analyze_table_stats_enable_broadcast(spark, sf_dir, tmp_path):
    # Cost-based optimization: a metastore table with COMPUTED STATS
    # under the broadcast threshold joins as BroadcastHashJoin with no
    # hint; the same join before ANALYZE (no stats, conservative
    # fallback sizing from file size is already small here, so drive
    # the negative via a threshold squeeze instead): with the
    # threshold floored, the join must degrade to a shuffle join —
    # proving the decision is STATS x THRESHOLD, the lever a 100 TB
    # deployment tunes instead of sprinkling hints.
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    spark.sql("DROP TABLE IF EXISTS nation_stats")
    nation.write.option("path", str(tmp_path / "nation_stats")).saveAsTable(
        "nation_stats"
    )
    spark.sql("ANALYZE TABLE nation_stats COMPUTE STATISTICS")
    def build():
        # fresh Dataset per measurement: a Dataset's QueryExecution
        # (and thus its physical plan) is cached on first explain, so
        # conf changes only show up in newly-built plans.
        return cust.join(
            spark.table("nation_stats"),
            cust.c_nationkey == F.col("n_nationkey"),
        )

    assert "BroadcastHashJoin" in _plan(build())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        # Both levers must be floored: the static planner threshold AND
        # AQE's runtime re-broadcast threshold (a separate conf — the
        # subtle production gotcha this test documents).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastHashJoin" not in _plan(build())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        spark.sql("DROP TABLE IF EXISTS nation_stats")


def test_observation_metrics_piggyback_on_action(spark, sf_dir):
    # df.observe: operational metrics (row counts, sums, null counts)
    # collected DURING the job's own pass — no second scan. The 100 TB
    # use is data-quality counters on production pipelines where an
    # extra audit pass doubles cost.
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("audit")
    audited = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity")).alias("qty_sum"),
        F.count_if(F.col("l_shipdate").isNull()).alias("null_shipdates"),
    )
    n = audited.count()  # one action drives both the count and the metrics
    m = obs.get
    assert m["rows_seen"] == n
    assert m["null_shipdates"] == 0
    assert m["qty_sum"] > 0


def test_aqe_splits_skewed_join_partition_at_runtime(spark):
    # The adaptive complement to join_skew_salted's manual pattern:
    # with 90% of a 400k-row fact collapsing onto one key, AQE must
    # detect the oversized shuffle partition AT RUNTIME and split it
    # (SortMergeJoin(skew=true) in the FINAL executed plan) — no
    # salting, no hints. Thresholds are scaled to test data size; at
    # 100 TB the defaults (256 MB skew threshold) play the same role.
    # The final plan lives on the executed Dataset's QueryExecution —
    # a fresh explain() shows only the initial plan.
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(dim, "k")
        assert len(j.collect()) == 400_000
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bpe_encode_zero_shuffle_apply(spark, sf_dir):
    # The encode stage applies the learned merges as literal replace()
    # projections over a linear scan of the corpus: no Python UDF, no
    # join and no shuffle.
    from aws_etl_pipeline_spark.llm.text import bpe_encode_corpus

    df = bpe_encode_corpus(spark, sf_dir)
    plan = _plan(df)
    for node in ("Join", "CartesianProduct", "Exchange"):
        assert node not in plan, plan
    assert not python_eval_nodes(df)


def test_classifier_score_broadcast_weights(spark, sf_dir):
    # Inference joins the 16-row weight relation into the feature
    # stream as a broadcast; the corpus shuffles only on doc_id for
    # the z-sum. No Python, no cartesian.
    from aws_etl_pipeline_spark.llm.text import classifier_score_docs

    df = classifier_score_docs(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert not python_eval_nodes(df)


def test_asof_multi_is_single_shuffle(spark, sf_dir):
    """The multi-feature point-in-time join must cost ONE shuffle on
    the entity key regardless of feature count — that is its whole
    advantage over N per-feature as-of joins."""
    import re

    from aws_etl_pipeline_spark.operators.relational import join_asof_multi

    plan = _plan(join_asof_multi(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_semantic_lsh_decon_is_hash_join_not_nlj(spark, sf_dir):
    """decontaminate_semantic_lsh's whole point vs the exact screen:
    candidates come from a BUCKET EQUI-JOIN (BroadcastHashJoin on the
    bucket key), never a nested-loop expansion — the plan a 100 TB
    corpus side can survive. The exact screen is the NLJ by design;
    the LSH form must not be."""
    from aws_etl_pipeline_spark.llm.decontaminate import (
        decontaminate_semantic_lsh,
    )

    plan = _plan(decontaminate_semantic_lsh(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_star_cc_rounds_are_shuffle_joins(spark):
    """connected_components_star rounds must be keyed shuffle/broadcast
    joins + min aggregations — no cartesian anywhere."""
    from aws_etl_pipeline_spark import api

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 32)], "src long, dst long"
    )
    out = api.connected_components_star(edges, "src", "dst")
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_interval_bucketed_join_is_equi_not_nlj(spark, sf_dir):
    """join_interval_bucketed's whole point: the no-equi-key BETWEEN
    join must become a hash EQUI-join on the month bucket (residual
    BETWEEN as the join filter), never the nested-loop expansion
    Catalyst emits for a pure range condition — the form that survives
    a 100 TB probe side."""
    from aws_etl_pipeline_spark.operators.relational import (
        join_interval_bucketed,
    )

    plan = _plan(join_interval_bucketed(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan, plan  # broadcast or shuffled, both equi


def test_quantile_binning_histogram_is_domain_bounded(spark, sf_dir):
    """feature_quantile_binning's contract: the ONLY single-partition
    exchange in the plan is the cumulative pass over the VALUE
    histogram (domain-bounded); the customer scans and the bin
    aggregate stay parallel, and the boundary row reaches the scan as
    a broadcast, never a sort of the raw table."""
    import re

    from aws_etl_pipeline_spark.operators.features import (
        feature_quantile_binning,
    )

    plan = _plan(feature_quantile_binning(spark, sf_dir))
    # no global Sort over the full relation (ordered window is over
    # the collapsed histogram only)
    assert "CartesianProduct" not in plan, plan
    singles = len(re.findall(r"Exchange SinglePartition", plan))
    assert singles <= 2, plan  # histogram cumsum + 1-row total only


def test_trimmed_mean_no_rowlevel_sort(spark, sf_dir):
    """agg_trimmed_mean must sort only the per-(group, value)
    HISTOGRAM (domain-bounded), never the orders rows themselves: the
    window's child must aggregate before sorting."""
    from aws_etl_pipeline_spark.operators.relational import agg_trimmed_mean

    plan = _plan(agg_trimmed_mean(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the rank-window sort appears AFTER a HashAggregate collapse:
    # the collapsed relation carries the count column 'c'
    assert "Window" in plan and "HashAggregate" in plan, plan


def test_partition_checksums_single_pass(spark, sf_dir):
    """etl_partition_checksums is ONE map-side-combinable aggregate
    over ONE scan — no join, no window, no second pass."""
    import re

    from aws_etl_pipeline_spark.operators.etl import etl_partition_checksums

    plan = _plan(etl_partition_checksums(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    # one numbered scan node (the name also appears in the detail
    # section, so count node headers, not substrings)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_fellegi_sunter_candidates_are_blocked_equi_join(spark, sf_dir):
    """er_fellegi_sunter's candidate generation must be a hash
    EQUI-join on the blocking key (never nested-loop all-pairs), with
    the u-estimate riding a broadcast — the 100 TB ER contract."""
    from aws_etl_pipeline_spark.operators.relational import er_fellegi_sunter

    plan = _plan(er_fellegi_sunter(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan, plan


def test_curriculum_order_no_stage_sized_sort(spark, sf_dir):
    """pack_curriculum_order's per-row position must partition by
    (stage, dbucket), never by stage alone — 4 stages would bound the
    sort at 4 tasks (measured 22x wall at 100x before the r10 rewrite).
    The stage-only window that remains operates on the tiny
    (stage, dbucket) count relation, behind an aggregate; the row-level
    window must mention dbucket, and the offsets must come back via
    broadcast, not a second data-sized shuffle."""
    from aws_etl_pipeline_spark.llm.assembly import pack_curriculum_order

    df = pack_curriculum_order(spark, sf_dir)
    plan = _plan(df)
    rn_lines = [
        ln for ln in plan.splitlines()
        if "row_number()" in ln and "windowspecdefinition" in ln
    ]
    assert rn_lines, plan
    assert all("dbucket" in ln for ln in rn_lines), rn_lines
    assert "BroadcastHashJoin" in plan, plan


def test_unpartitioned_windows_are_declared():
    """r9 verdict #4: every unpartitioned window spec in the package
    must carry a `# global-ok:` marker (within the 3 preceding lines or
    inline) naming why a global ORDER BY window is safe there —
    verdict-sized / domain-bounded / candidate-list-sized relations
    only. A new data-sized global window lands without the marker and
    fails here; adding the marker without a real bound is a review
    item, not a free pass."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "aws_etl_pipeline_spark"
    pat = re.compile(r"W\s*\.\s*orderBy\(|Window\s*\.\s*orderBy\(")
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        lines = py.read_text().splitlines()
        for i, ln in enumerate(lines):
            if pat.search(ln):
                ctx = "\n".join(lines[max(0, i - 3): i + 1])
                if "global-ok:" not in ctx:
                    offenders.append(f"{py.relative_to(pkg.parent)}:{i + 1}")
    assert offenders == [], (
        "unpartitioned window specs without a '# global-ok:' marker "
        f"(verdict-sized rationale required): {offenders}"
    )


def test_argmin_paths_never_sort_aggregate(spark, sf_dir):
    """r10 1000x-replica lesson: min(struct(score, key)) falls back to
    SortAggregate, whose partial phase SORTS the expanded
    (corpus x candidates) relation inside each task — sim_ivf_truepq
    sort-spilled >60 GB and filled the disk. Every argmin path
    (PQ encode, lloyd k-means, IVF coarse assign, nearest-hub) must
    plan as hash aggregates only."""
    from aws_etl_pipeline_spark.llm.similarity import (
        kmeans_train,
        sim_ivf_ann,
        sim_ivf_truepq,
    )
    from aws_etl_pipeline_spark.operators.geo import geo_nearest_hub

    for fn in (sim_ivf_truepq, sim_ivf_ann, kmeans_train, geo_nearest_hub):
        plan = _plan(fn(spark, sf_dir))
        assert "SortAggregate" not in plan, fn.__name__


def test_ppr_edge_scan_is_bucket_pruned(spark, sf_dir):
    """r11 (r10 verdict #1): the personalized-pagerank loop must read
    only the frontier's buckets of the staged source-partitioned edge
    layout — the file source lists the frontier's directories, never
    the whole edge relation. Round 1's frontier is the seed alone, so
    its scan must prune to exactly one bucket of PPR_EDGE_BUCKETS."""
    from aws_etl_pipeline_spark.operators.graph import (
        PPR_SEED,
        _ppr_bucket,
        ppr_edges_bucketed,
    )

    edeg = ppr_edges_bucketed(spark, sf_dir)
    seed_bkt = (
        spark.createDataFrame([(PPR_SEED,)], "node string")
        .select(_ppr_bucket(F.col("node")))
        .collect()[0][0]
    )
    pruned = edeg.where(F.col("bkt").isin([seed_bkt]))
    plan = _plan(pruned)
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters:" in ln
    ]
    assert pf_lines and any(
        "bkt" in ln and ("=" in ln or " IN " in ln) for ln in pf_lines
    ), plan
    # pruning is effective, not just present: the pruned scan reads a
    # single directory while the full layout holds many
    assert pruned.rdd.getNumPartitions() <= 2
    assert edeg.rdd.getNumPartitions() > 4
    # and the layout carries the pre-joined degree (no per-round join)
    assert set(edeg.columns) == {"a", "b", "deg", "bkt"}


def test_percentile_disc_sites_are_declared():
    """r10 verdict #2 follow-through: percentile_disc buffers one
    counter per DISTINCT input value inside ONE aggregation buffer, so
    any site ordering by a value set that grows with the corpus is a
    latent single-task concentration. Every percentile_disc occurrence
    in the package must carry a `pdisc-ok:` marker (within the 8
    preceding lines or inline) stating why its distinct-value domain
    is bounded — or that it is the DuckDB oracle twin, which runs
    single-node by design. A new unbounded site lands without the
    marker and fails here."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "aws_etl_pipeline_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        lines = py.read_text().splitlines()
        for i, ln in enumerate(lines):
            if "percentile_disc(" in ln:
                ctx = "\n".join(lines[max(0, i - 8): i + 1])
                if "pdisc-ok:" not in ctx:
                    offenders.append(f"{py.relative_to(pkg.parent)}:{i + 1}")
    assert offenders == [], (
        "percentile_disc sites without a 'pdisc-ok:' bound declaration: "
        f"{offenders}"
    )


def test_ivf_staged_scan_prunes_to_probed_cells(spark, sf_dir):
    """r11 (r10 verdict #4): the persisted IVF layout must serve
    probes from disk-level partition pruning — a probe filtering to a
    cell subset lists only those cells' directories, so each query
    reads ~n_probe/n_cells of the corpus from storage, which is the
    similarity family's central 100 TB claim."""
    from aws_etl_pipeline_spark.llm.similarity import ivf_staged_layout

    corp, cent_n = ivf_staged_layout(spark, sf_dir)
    cells = [r[0] for r in cent_n.select("cell").collect()]
    assert len(cells) >= 4  # a real cell domain to prune against
    probe = corp.where(F.col("cell").isin(cells[:2]))
    plan = _plan(probe)
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters:" in ln]
    assert pf_lines and any(
        "cell" in ln and ("=" in ln or " IN " in ln) for ln in pf_lines
    ), plan
    # effective: the pruned scan reads fewer partitions than the layout
    assert probe.rdd.getNumPartitions() < corp.rdd.getNumPartitions()
    # and the layout carries vector, norm, and cell — no re-derivation
    assert set(corp.columns) == {"vec_id", "v", "nrm", "cell"}


def test_pagerank_round_join_never_exchanges_edges(spark, sf_dir):
    """r11: the global-pagerank round consumes the bucketed edge
    TABLE, so the edge relation must reach the contribution join
    straight from its bucketed scan — no Exchange, no Sort — and the
    only hash exchange in a round is the contribution aggregate's.
    This is the 'pre-partition edges by src and the per-round shuffle
    amortizes to zero' claim as a plan contract."""
    from aws_etl_pipeline_spark.operators.graph import pagerank_edges_table

    edeg = pagerank_edges_table(spark, sf_dir)
    ranks = edeg.groupBy(F.col("a").alias("node")).agg(
        F.min("deg").alias("deg")
    ).select("node", (F.lit(1.0) / F.col("deg")).alias("rank"))
    contrib = edeg.join(
        ranks.select(F.col("node").alias("a"), "rank").hint("shuffle_hash"),
        "a",
    ).select(
        F.col("b").alias("node"),
        (F.col("rank") / F.col("deg")).cast("decimal(30,18)").alias("c"),
    )
    summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
    plan = _plan(summed)
    assert "Bucketed: true" in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    # exactly ONE hash exchange: the contribution aggregate (keyed by
    # the destination node); the edge scan and the join have none
    # (formatted mode prints each Exchange's spec as an Arguments line)
    n_exchanges = plan.count("Arguments: hashpartitioning")
    assert n_exchanges == 1, plan
    assert summed.count() > 0


def test_quality_topq_thresholds_broadcast(spark, sf_dir):
    """mix_quality_topq's per-source thresholds must come back via a
    broadcast join (the bounded histogram side), never a data-sized
    shuffle join — and the plan must contain no cartesian product."""
    from aws_etl_pipeline_spark.llm.assembly import mix_quality_topq

    plan = _plan(mix_quality_topq(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bayesian_ab_single_data_aggregate(spark, sf_dir):
    """events_bayesian_ab may touch the data exactly once (the
    conditional counting aggregate); everything else runs on the
    compile-time grid. One parquet scan in the plan, and the grid side
    joins in via broadcast."""
    from aws_etl_pipeline_spark.operators.analytics import events_bayesian_ab

    plan = _plan(events_bayesian_ab(spark, sf_dir))
    # formatted plans print each node in the tree AND the detail list,
    # so one physical scan == 2 textual occurrences
    assert plan.count("Scan parquet") == 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ivf_staged_pq_codes_prune_to_probed_cells(spark, sf_dir):
    """The staged-PQ index must compose both scale devices: the code
    files partition-prune by coarse cell exactly like the fp layout
    (the `test_ivf_staged_scan_prunes_to_probed_cells` contract), and
    the body being pruned is CODES — integer columns only, no
    full-precision vector on the index side."""
    from aws_etl_pipeline_spark.llm.similarity import ivf_pq_staged_layout

    codes, cent = ivf_pq_staged_layout(spark, sf_dir)
    cells = [r[0] for r in codes.select("cell").distinct().collect()]
    assert len(cells) >= 4
    probe = codes.where(F.col("cell").isin(cells[:2]))
    plan = _plan(probe)
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters:" in ln]
    assert pf_lines and any(
        "cell" in ln and ("=" in ln or " IN " in ln) for ln in pf_lines
    ), plan
    assert probe.rdd.getNumPartitions() < codes.rdd.getNumPartitions()
    assert set(codes.columns) == {"neighbor_id", "sub", "code", "cell"}
    # codes are 8 integer cells per vector — no fp vector column
    assert all(
        t[1] in ("bigint", "int") for t in codes.dtypes if t[0] != "cell"
    ), codes.dtypes


def test_doulion_sample_filter_is_scan_side(spark, sf_dir):
    """r12 (r11 verdict #1): DOULION's whole value is that the md5
    sampling coin lands on the EDGE SCAN — both legs of every wedge
    join then see only the p-sampled relation, cutting wedge volume
    by p^2 before any exchange. If the filter drifted above a join
    the plan would pay full exact-count shuffle volume and merely
    discard triangles afterwards, silently reverting to the plan
    whose 100x run spills past local disk."""
    import re

    from aws_etl_pipeline_spark.operators.graph import graph_triangle_doulion

    plan = _plan(graph_triangle_doulion(spark, sf_dir))
    lines = plan.splitlines()
    scan_side_ids = []
    for i, ln in enumerate(lines):
        # a previously-run graph test may have left the staged edge
        # fixture cached (track/persist), in which case the coin sits
        # directly over an InMemoryTableScan instead of the parquet
        # scan — still scan-side, still before every join
        m = re.search(r"\*? ?Filter \((\d+)\)", ln)
        if m and i + 1 < len(lines):
            nxt2 = "\n".join(lines[i + 1 : i + 3])
            if (
                ("ColumnarToRow" in nxt2 and "Scan parquet" in nxt2)
                or "InMemoryTableScan" in lines[i + 1]
            ):
                scan_side_ids.append(m.group(1))
    assert scan_side_ids, plan
    def _detail(fid: str) -> str:
        m = re.search(
            rf"^\({fid}\) Filter.*?(?=^\(\d+\) |\Z)", plan, re.S | re.M
        )
        return m.group(0) if m else ""
    assert any("md5" in _detail(fid) for fid in scan_side_ids), plan
    # and no md5 filter sits anywhere EXCEPT directly over the scan:
    # every Filter detail mentioning md5 must be a scan-side node
    md5_filter_ids = re.findall(
        r"^\((\d+)\) Filter", 
        "\n".join(
            blk for blk in re.split(r"(?=^\(\d+\) )", plan, flags=re.M)
            if blk.startswith("(") and "Filter" in blk.split("\n")[0]
            and "md5" in blk
        ),
        re.M,
    )
    assert all(fid in scan_side_ids for fid in md5_filter_ids), plan


def test_ppr_dense_round_plan_is_aligned_no_broadcast(spark, sf_dir):
    """r12 (r11 verdict #2): a saturated PPR round must use the
    whole-graph bucketed TABLE with a shuffle_hash rank-side build —
    edges consumed straight off the bucketed scan (no Exchange), the
    ball exchanged once into alignment, and NOTHING broadcast — so a
    dense graph can never push a near-node-sized broadcast."""
    from aws_etl_pipeline_spark.operators.graph import pagerank_edges_table

    edeg = pagerank_edges_table(spark, sf_dir)
    # a saturated-round rank relation: every node has rank (worst case)
    ranks = edeg.groupBy(F.col("a").alias("node")).agg(
        (F.lit(1.0) / F.min("deg")).alias("r")
    )
    joined = edeg.join(
        ranks.withColumnRenamed("node", "a").hint("shuffle_hash"), "a"
    ).select(
        F.col("b").alias("node"),
        (F.col("r") / F.col("deg")).cast("decimal(30,18)").alias("cd"),
    )
    contrib = joined.groupBy("node").agg(F.sum("cd").alias("s"))
    plan = _plan(contrib)
    assert "Bucketed: true" in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_ppr_guard_switches_regimes_on_the_dense_fixture(spark, sf_dir):
    """The guard itself (driver-side control flow): on the sf0.01
    fixture the 3-round ball saturates (round 3 covers 487/512
    buckets, the measured r11 number), so the run must use BOTH
    regimes — sparse pruned-scan rounds early, the aligned dense plan
    once coverage passes PPR_DENSE_FRACTION — and every recorded
    decision must match the threshold arithmetic."""
    import os

    import pytest

    from aws_etl_pipeline_spark.operators.graph import (
        PPR_DENSE_FRACTION,
        PPR_EDGE_BUCKETS,
        PPR_ITERS,
        PPR_LAST_REGIMES,
        graph_personalized_pagerank,
    )

    sf001 = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip(f"dense fixture {sf001} not present")
    rows = graph_personalized_pagerank(spark, sf001).count()
    assert rows > 0
    assert len(PPR_LAST_REGIMES) == PPR_ITERS
    for regime, n in PPR_LAST_REGIMES:
        expect = "dense" if n > PPR_DENSE_FRACTION * PPR_EDGE_BUCKETS else "sparse"
        assert regime == expect, PPR_LAST_REGIMES
    regimes = [r for r, _ in PPR_LAST_REGIMES]
    assert "sparse" in regimes and "dense" in regimes, PPR_LAST_REGIMES


def test_assembly_pipeline_broadcasts_are_bounded_only(spark, sf_dir):
    """r12: the composed assembly run may broadcast ONLY bounded
    relations — the per-source quality thresholds (sources x 1001
    histogram fold), the benchmark gram set (eval suites are MBs),
    and the source-sized UniMax/packing scalars. Nothing derived from
    the full corpus may appear as a broadcast build side (the
    misestimated-broadcast class the r11 sweep pinned), and the
    candidate/containment joins must stay shuffle joins."""
    from aws_etl_pipeline_spark.llm.assembly import corpus_assembly_pipeline

    plan = _plan(corpus_assembly_pipeline(spark, sf_dir))
    # the near-dup candidate join and the anti-join against the
    # contaminated set are corpus-scaled: pinned shuffle joins
    assert "ShuffledHashJoin" in plan, plan
    # broadcast exists (thresholds + bench grams + verdict scalars)
    assert "BroadcastExchange" in plan, plan
    # no corpus-sized nested loop anywhere (the verdict-scalar cross
    # joins plan as BroadcastNestedLoopJoin over 1-row sides, which
    # is fine; a CartesianProduct would not be)
    assert "CartesianProduct" not in plan, plan


def test_register_nf_round_is_sort_free_hash_aggregate(spark):
    """r13: the register spelling's whole reason to exist is that the
    HLL merge is an ALGEBRAIC max — so the per-round merge must plan
    as a partial-aggregating HashAggregate with NO sort anywhere (the
    KMV sibling's rank-filter round needs the sort; that cost model
    difference is the 100x point). Built on a synthetic frame shaped
    exactly like the round's inputs."""
    from pyspark.sql import functions as F

    edges = spark.range(1000).select(
        (F.col("id") % 50).alias("ia"), ((F.col("id") * 7) % 50).alias("ib")
    )
    sk = spark.range(50).select(
        F.col("id").alias("ia"), (F.col("id") % 640).cast("int").alias("val")
    )
    # r14 delta shape: contributions are the CHANGED-register subset
    # (a stored-column filter), and the merge emits max(val) AND the
    # prior value (old_val) in the same aggregate — still a plain
    # algebraic MAX pair, so the pin is unchanged: HashAggregate,
    # no sort, shuffle-hash join.
    delta = sk.filter(F.col("val") % 3 != 0)
    contrib = edges.join(delta.hint("shuffle_hash"), "ia").select(
        F.col("ib").alias("node"), "val", F.lit(0).alias("old")
    )
    merged = (
        contrib.unionByName(
            sk.select(F.col("ia").alias("node"), "val", F.lit(1).alias("old"))
        )
        .groupBy("node", F.shiftright("val", 6).alias("reg"))
        .agg(
            F.max("val").alias("val"),
            F.max(F.when(F.col("old") == 1, F.col("val"))).alias("old_val"),
        )
        .select("node", "val", "old_val")
    )
    plan = _plan(merged)
    assert "HashAggregate" in plan, plan
    assert "SortAggregate" not in plan, plan
    assert "Sort " not in plan and "+- Sort" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_bmp_decode_plan_is_two_arrow_stages_one_exchange(spark, sf_dir):
    """r13: the decode pipeline must be exactly two Arrow-batched
    Python stages (synthesize, decode) separated by one hash exchange
    of the binary payloads — no row-at-a-time Python, no extra
    shuffles."""
    from aws_etl_pipeline_spark.llm.multimodal import multimodal_decode_bmp

    plan = _plan(multimodal_decode_bmp(spark, sf_dir))
    assert plan.count("MapInPandas") >= 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "hashpartitioning(doc_id" in plan, plan


def test_wav_decode_plan_is_two_arrow_stages_one_exchange(spark, sf_dir):
    """r14: the audio decode pipeline mirrors the BMP contract —
    exactly two Arrow-batched Python stages (synthesize, decode)
    separated by one hash exchange of the binary payloads; no
    row-at-a-time Python, no extra shuffles."""
    from aws_etl_pipeline_spark.llm.multimodal import multimodal_decode_wav

    plan = _plan(multimodal_decode_wav(spark, sf_dir))
    assert plan.count("MapInPandas") >= 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert "hashpartitioning(doc_id" in plan, plan


def test_incremental_minhash_probes_stored_index(spark, sf_dir):
    """r14: the incremental near-dup probe must read the HISTORY side
    from the staged parquet index — exactly ONE live stack() band
    expansion (the batch side), one shuffle-hash band join, and no
    cartesian anywhere. A second shingle->minhash pipeline in the plan
    means the full-corpus re-shingle came back."""
    from aws_etl_pipeline_spark.llm.dedup import dedup_incremental_minhash

    df = dedup_incremental_minhash(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("stack(4") == 1, plan  # batch side only
    assert "minhash_index_" in plan, plan  # history = stored parquet
    assert "ShuffledHashJoin" in plan, plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_index_maintenance_common_day_trains_frozen_assigns_delta(spark, sf_dir):
    """r14: on the no-drift branch the maintenance plan must (a) push
    the delta-batch filter into the assignment scan — only arrivals
    are assigned — and (b) train the quantizer WITHOUT the delta (the
    frozen-quantizer contract): the train-side aggregation carries the
    NOT-delta predicate. The corpus-sized re-assign exists only on the
    retrain branch (exercised in tests/test_llm.py)."""
    from aws_etl_pipeline_spark.llm.similarity import (
        DELTA_MOD,
        _maintenance_assign,
    )

    df = _maintenance_assign(spark, sf_dir, retrain=False)
    plan = _plan(df)
    assert f"% {DELTA_MOD}) = 0" in plan, plan  # delta-only assignment
    # r14: the quantizer is trained in its own bounded action (the
    # cell-domain collect) and served as a LITERAL, so the common-day
    # plan is a pure projection over the arrivals: the argmin is a
    # greatest() over literal centroids and NO aggregate of any kind
    # (train or argmin) remains in the assignment plan.
    assert "greatest(" in plan, plan
    assert "Aggregate" not in plan, plan
    assert "SortAggregate" not in plan, plan
