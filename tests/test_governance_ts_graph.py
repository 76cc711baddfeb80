"""Round-8 governance / time-series / node-similarity operators:
domain invariants plus the single-pass and wedge-join plan contracts."""

import re

import pytest

from pyspark.sql import functions as F

from aws_etl_pipeline_spark.operators.analytics import (
    L_DIV,
    TS_PERIOD,
    privacy_l_diversity,
    quality_expectations,
    ts_seasonal_decompose,
)
from aws_etl_pipeline_spark.operators.graph import graph_jaccard_neighbors
from aws_etl_pipeline_spark.plans.explain import plan_string, python_eval_nodes


def test_quality_expectations_verdicts(spark, sf_dir):
    rows = quality_expectations(spark, sf_dir).collect()
    by_name = {r.constraint: r for r in rows}
    assert len(rows) == 7
    # the synthetic orders table satisfies the whole suite.
    assert all(r.passed for r in rows), [r.constraint for r in rows if not r.passed]
    assert by_name["completeness_o_custkey"].metric == 1.0
    assert by_name["uniqueness_o_orderkey"].metric == 1.0


def test_quality_expectations_is_one_scan(spark, sf_dir):
    """A constraint suite must never cost one scan per constraint."""
    df = quality_expectations(spark, sf_dir)
    plan = plan_string(df)
    # formatted output names each node twice (tree + detail header);
    # one scan node == one "(1) Scan parquet" detail header.
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert python_eval_nodes(df) == []


def test_l_diversity_bounds(spark, sf_dir):
    rows = privacy_l_diversity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.min_l <= 5  # 5 market segments exist
        assert r.groups_not_diverse <= r.groups_total
        if r.min_l >= L_DIV:
            assert r.groups_not_diverse == 0 and r.rows_at_risk == 0


def test_seasonal_decompose_identity(spark, sf_dir):
    """v = trend + seasonal + residual wherever the trend window was
    full; edges carry null trend/residual."""
    rows = ts_seasonal_decompose(spark, sf_dir).collect()
    assert rows
    full = [r for r in rows if r.trend is not None]
    assert full, "no interior days — series shorter than the MA window?"
    for r in full:
        assert r.seasonal is not None
        assert abs(r.v - (r.trend + r.seasonal + r.residual)) < 1e-6
    # each series has exactly period-1+period-1... edge days null-trended
    for r in rows:
        if r.trend is None:
            assert r.residual is None


def test_seasonal_profile_is_periodic(spark, sf_dir):
    """At most TS_PERIOD distinct seasonal values per event_type."""
    df = ts_seasonal_decompose(spark, sf_dir)
    per = (
        df.filter(F.col("seasonal").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("seasonal").alias("n"))
        .collect()
    )
    assert all(r.n <= TS_PERIOD for r in per)


def test_jaccard_neighbors_scores(spark, sf_dir):
    rows = graph_jaccard_neighbors(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0
        assert r.n_common >= 2
        assert r.u < r.v  # oriented pair, counted once
    scores = [r.jaccard for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_jaccard_plan_is_equi_wedge_join(spark, sf_dir):
    plan = plan_string(graph_jaccard_neighbors(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_sorted_neighborhood_match_contract(spark, sf_dir):
    """One best match per dirty record, always dirty-vs-clean, lev
    within the declared cap. (Self-matches are NOT guaranteed: part
    names repeat, so identically-named parts form sort clusters larger
    than the window and the true original can sit outside it — the
    documented single-pass sorted-neighborhood miss that multi-pass
    fixes; the DuckDB oracle pins the exact same misses.)"""
    from aws_etl_pipeline_spark.operators.relational import (
        SN_MAX_LEV,
        er_sorted_neighborhood,
    )

    rows = er_sorted_neighborhood(spark, sf_dir).collect()
    assert rows
    ids = [r.dirty_id for r in rows]
    assert len(ids) == len(set(ids))  # best-of per dirty record
    assert all(0 <= r.lev <= SN_MAX_LEV for r in rows)
    assert all(r.dirty_id % 5 == 1 for r in rows)  # dirty side only
    # names without 'a' survive the perturbation verbatim -> lev 0
    assert any(r.lev == 0 for r in rows)


def test_gaps_islands_arithmetic(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.windows import window_gaps_islands

    rows = window_gaps_islands(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.longest_streak <= r.n_active_days
        assert r.n_streaks >= 1
        assert r.longest_streak_start is not None


def test_agg_mode_is_deterministic_argmax(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.relational import agg_mode

    rows = agg_mode(spark, sf_dir).collect()
    assert len(rows) == 25
    assert all(r.modal_count >= 1 for r in rows)


def test_rfm_segments_cover_scores(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import events_rfm_segmentation

    rows = events_rfm_segmentation(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
        assert r.segment == f"{r.r_score}{r.f_score}{r.m_score}"
        assert r.recency_days >= 0 and r.frequency >= 1


def test_interleave_positions_unique_and_strided(spark, sf_dir):
    from aws_etl_pipeline_spark.llm.assembly import pack_interleave_domains

    rows = pack_interleave_domains(spark, sf_dir).collect()
    positions = [r.position for r in rows]
    assert len(positions) == len(set(positions))  # a total order
    assert all(r.stride_ok for r in rows)
    # a contiguous window of n_srcs positions spans every source when
    # sources are balanced at the head of the stream
    head = sorted(rows, key=lambda r: r.position)[:4]
    assert len({r.source for r in head}) == len(head)


def test_fn_url_parses_roundtrip(spark, sf_dir):
    from aws_etl_pipeline_spark.functions.scalar import fn_url

    rows = fn_url(spark, sf_dir).collect()
    assert rows
    for r in rows[:20]:
        assert r.host.endswith(".example.com")
        assert r.path.startswith("/docs/")
        assert r.query.startswith("ref=corpus")
        assert r.page_param == str(r.doc_id % 7)
        assert r.reg_domain == "example.com"


def test_url_canonical_groups_are_real(spark, sf_dir):
    """Guard against the silent both-engines-wrong failure this query
    shipped with first (case-sensitive regexes matched nothing and the
    oracle 'agreed' on an empty canonical key): the canonical URL must
    be a non-empty host+path and groups must reflect the %50 collision
    design, not one giant empty-key group."""
    from aws_etl_pipeline_spark.llm.dedup import dedup_url_canonical

    rows = dedup_url_canonical(spark, sf_dir).collect()
    assert len(rows) > 1
    for r in rows:
        assert ".example.com/docs/" in r.canonical_url
        assert not r.canonical_url.endswith("/")
        assert r.n_docs > 1 and r.keeper_doc_id is not None


def test_dataset_card_shares_sum_to_one(spark, sf_dir):
    from aws_etl_pipeline_spark.llm.text import corpus_dataset_card

    rows = corpus_dataset_card(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.pct_of_corpus for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0.0 <= r.exact_dup_rate < 1.0
        assert r.n_unique_docs <= r.n_docs
        assert r.min_chars <= r.avg_chars <= r.max_chars


def test_markov_attribution_shares(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import (
        events_markov_attribution,
    )

    rows = events_markov_attribution(spark, sf_dir).collect()
    assert len(rows) == 4
    assert abs(sum(r.attribution_share for r in rows) - 1.0) < 1e-6
    for r in rows:
        # removing a channel can only hurt conversion (mass -> NULL)
        assert r.conv_prob_removed <= r.conv_prob_full + 1e-9
        assert 0.0 <= r.removal_effect <= 1.0


# -- round-8 statistical testing & monitoring batch -------------------------


def test_survival_km_is_monotone_nonincreasing(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import events_survival_km

    rows = sorted(
        events_survival_km(spark, sf_dir).collect(), key=lambda r: r.duration
    )
    assert rows, "empty KM table"
    # S is a product of factors in [0,1]: monotone non-increasing in t.
    survs = [r.survival for r in rows]
    assert all(a >= b for a, b in zip(survs, survs[1:])), survs
    assert all(0.0 <= s <= 1.0 for s in survs)
    # at-risk counts telescope: n_t - (d_t + c_t) = n_{t+1}.
    for a, b in zip(rows, rows[1:]):
        assert a.n_at_risk - a.d_churned - a.c_censored == b.n_at_risk


def test_drift_psi_nonnegative_and_symmetric_zero(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import quality_drift_psi

    rows = quality_drift_psi(spark, sf_dir).collect()
    assert rows
    # PSI is an f-divergence: >= 0, and the flag must agree with the value.
    for r in rows:
        assert r.psi >= 0.0, r
        assert r.drifted == (r.psi > 0.1), r


def test_regression_ols_r2_bounds_and_single_agg(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import agg_regression_ols
    from aws_etl_pipeline_spark.plans.explain import plan_string

    df = agg_regression_ols(spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.r2 is None or -1e-9 <= r.r2 <= 1.0 + 1e-9, r
    # one scan, one aggregate: the fit must never cost a second pass
    # (formatted output names each node twice: tree + detail header).
    plan = plan_string(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_abtest_welch_flag_matches_stat(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import events_abtest_welch
    from aws_etl_pipeline_spark.plans.explain import plan_string

    df = events_abtest_welch(spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.n0 > 0 and r.n1 > 0
        assert r.significant == (abs(r.t_stat) > 1.96), r
        assert r.welch_dof is None or r.welch_dof > 0
        # Welch dof is bounded above by the pooled dof.
        if r.welch_dof is not None:
            assert r.welch_dof <= r.n0 + r.n1 - 2 + 1e-9
    plan = plan_string(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_autocorrelation_bounds_and_pairs(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import (
        ACF_MAX_LAG,
        ts_autocorrelation,
        ts_cusum_changepoint,
        ts_theil_sen,
    )

    rows = ts_autocorrelation(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        assert 1 <= r.lag <= ACF_MAX_LAG
        # Cauchy-Schwarz: |sample ACF| <= 1 (tiny slack for the final
        # double division)
        assert abs(r.acf) <= 1.0 + 1e-9
        by_type.setdefault(r.event_type, []).append(r)
    for rs in by_type.values():
        # n_pairs must fall by exactly 1 per extra lag on a dense series
        rs = sorted(rs, key=lambda r: r.lag)
        for a, b in zip(rs, rs[1:]):
            assert a.n_pairs == b.n_pairs + 1


def test_cusum_changepoint_within_series(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import ts_cusum_changepoint

    rows = ts_cusum_changepoint(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.max_abs_cusum >= 0.0
        assert r.change_day is not None and r.n_days > 1


def test_theil_sen_pair_arithmetic(spark, sf_dir):
    from aws_etl_pipeline_spark.operators.analytics import ts_theil_sen

    rows = ts_theil_sen(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # a self-join on day > day must produce exactly C(n,2) pairs —
        # any other count means the join condition leaked
        assert r.n_pairs == r.n_days * (r.n_days - 1) // 2
        assert r.sen_slope is not None and r.sen_intercept is not None


def test_ts_stats_scan_events_once(spark, sf_dir):
    """All three run on the daily rollup: exactly ONE events scan in
    each plan — the pair/lag expansions must never touch the log."""
    import re as _re

    from aws_etl_pipeline_spark.operators.analytics import (
        ts_autocorrelation,
        ts_cusum_changepoint,
        ts_theil_sen,
    )

    for fn in (ts_cusum_changepoint, ts_autocorrelation, ts_theil_sen):
        plan = plan_string(fn(spark, sf_dir))
        scans = len(_re.findall(r"\(\d+\) Scan parquet", plan))
        # the persisted rollup shows as InMemoryTableScan; the raw
        # events scan may appear at most once
        assert scans <= 1, f"{fn.__name__}: {scans} parquet scans"


def test_bfs_bipartite_parity_and_frontier(spark, sf_dir):
    """On the customer-supplier bipartite graph, distances must respect
    side parity: customers at even hops, suppliers at odd hops; seeds
    are exactly the nation-0 customers at dist 0."""
    from aws_etl_pipeline_spark.catalog import load_table
    from aws_etl_pipeline_spark.operators.graph import (
        BFS_HOPS,
        BFS_SEED_NATION,
        graph_bfs_reach,
    )

    rows = graph_bfs_reach(spark, sf_dir).collect()
    assert rows
    seeds = {
        f"c:{r.c_custkey}"
        for r in load_table(spark, sf_dir, "customer")
        .where(f"c_nationkey = {BFS_SEED_NATION}")
        .collect()
    }
    got_seeds = {r.node for r in rows if r.dist == 0}
    assert got_seeds == seeds
    for r in rows:
        assert 0 <= r.dist <= BFS_HOPS
        if r.node.startswith("c:"):
            assert r.dist % 2 == 0
        else:
            assert r.dist % 2 == 1


def test_clustering_coefficient_bounds(spark, sf_dir):
    """cc(v) in [0, 1]; the reported triangles can't exceed the
    neighborhood pair count; the network average matches the
    coefficient definition's range."""
    from aws_etl_pipeline_spark.operators.graph import (
        CC_MIN_DEG,
        graph_clustering_coefficient,
    )

    rows = graph_clustering_coefficient(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["deg"] >= CC_MIN_DEG
        assert 0.0 <= r["clustering_coeff"] <= 1.0, r
        assert 2 * r["n_triangles"] <= r["deg"] * (r["deg"] - 1), r
        assert 0.0 <= r["avg_clustering"] <= 1.0


def test_doulion_estimator_contract(spark, sf_dir):
    """r12: the DOULION schema must carry its own estimator contract —
    est_* columns are exactly the 1/p^3 scale-ups of the sampled
    counts, the sd column is sqrt(est_total * (1/p^3 - 1)) under the
    stated independence approximation, and the sampled per-node top-K
    is internally consistent (no node exceeds the total)."""
    import math

    from aws_etl_pipeline_spark.operators.graph import (
        TRI_SAMPLE_INV3,
        graph_triangle_doulion,
    )

    rows = graph_triangle_doulion(spark, sf_dir).collect()
    assert rows
    tot = rows[0].sampled_total
    assert tot > 0  # the p=1/16 coin keeps triangles even at sf0.001
    for r in rows:
        assert r.est_triangles == r.sampled_triangles * TRI_SAMPLE_INV3
        assert r.est_total == tot * TRI_SAMPLE_INV3
        assert r.sampled_triangles <= tot
        expect_sd = round(
            math.sqrt(tot * TRI_SAMPLE_INV3 * (TRI_SAMPLE_INV3 - 1)), 3
        )
        assert abs(r.est_total_sd - expect_sd) < 1e-9
    counts = [r.sampled_triangles for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_doulion_estimate_within_error_band(spark, sf_dir):
    """The scaled estimate must land within 3 sd of the EXACT count
    (computed by the exact sibling's oracle semantics) — a real check
    that the coin, the scale-up, and the wedge-close compose into an
    estimator of the right quantity, not just a deterministic number."""
    from aws_etl_pipeline_spark.operators.graph import (
        graph_triangle_count,
        graph_triangle_doulion,
    )

    est_row = graph_triangle_doulion(spark, sf_dir).collect()[0]
    exact_total = graph_triangle_count(spark, sf_dir).collect()[0].total_triangles
    assert abs(est_row.est_total - exact_total) <= 3 * est_row.est_total_sd, (
        est_row.est_total,
        exact_total,
        est_row.est_total_sd,
    )


def test_capped_triangles_are_a_lower_bound(spark, sf_dir):
    """r12: the degree-capped subgraph is a subset of the graph, so
    its exact triangle total must lower-bound the true total, the
    kept adjacency must respect both the cap arithmetic and the
    n * cap bound, and the per-node top-K must be internally
    consistent."""
    from aws_etl_pipeline_spark.operators.graph import (
        TRI_DEGREE_CAP,
        graph_triangle_capped,
        graph_triangle_count,
    )

    rows = graph_triangle_capped(spark, sf_dir).collect()
    assert rows
    exact_total = graph_triangle_count(spark, sf_dir).collect()[0].total_triangles
    r0 = rows[0]
    assert 0 < r0.total_capped <= exact_total
    assert r0.edges_kept <= r0.edges_in
    # the linear bound the cap buys: kept edges <= (#source nodes) * cap,
    # and under id-orientation #source nodes < #nodes
    from aws_etl_pipeline_spark.operators.graph import copurchase_edges

    n_src = copurchase_edges(spark, sf_dir).select("u").distinct().count()
    assert r0.edges_kept <= n_src * TRI_DEGREE_CAP
    counts = [r.n_triangles_capped for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r.n_triangles_capped <= r.total_capped


def test_neighborhood_function_grows_monotonically(spark, sf_dir):
    """r12: N(r) is monotone — balls only grow with radius — so both
    the per-node average and the total must be non-decreasing across
    the three radii, the node count must be constant, and the radius-1
    average ball must exceed 1 (every node sees itself plus at least
    one neighbor on this connected bipartite fixture). Sketch
    estimates of nested sets built from the SAME hash universe
    preserve containment (k-min of a superset is elementwise <=), so
    monotonicity holds for the estimates exactly, not just in
    expectation."""
    from aws_etl_pipeline_spark.operators.graph import (
        NF_ROUNDS,
        graph_neighborhood_function,
    )

    rows = sorted(
        graph_neighborhood_function(spark, sf_dir).collect(),
        key=lambda r: r.radius,
    )
    assert [r.radius for r in rows] == list(range(1, NF_ROUNDS + 1))
    assert len({r.n_nodes for r in rows}) == 1
    assert rows[0].avg_ball_est > 1.0
    for a, b in zip(rows, rows[1:]):
        assert b.nf_est >= a.nf_est, (a, b)
        assert b.avg_ball_est >= a.avg_ball_est, (a, b)


def test_neighborhood_registers_contract(spark, sf_dir):
    """r13: the HLL-register spelling must (a) see the same node set
    as the KMV sibling at every radius, (b) grow monotonically on this
    fixture (registers of nested balls only grow; the aggregate
    estimates here sit far enough above the linear-counting boundary
    that the crossover can't invert them), (c) carry the m=16
    estimator's 26% RSE in-schema, and (d) agree with the KMV sibling
    within the SINGLE-DRAW error envelope. Why single-draw: on this
    fixture the radius>=2 balls of every node are nearly the same set
    (the graph is small and dense), so all per-node estimates share
    one hash draw and the mean does NOT shrink the error ~sqrt(n) —
    each family's aggregate is one +-RSE sample (26% registers,
    ~18.6% KMV at k=32). The envelope is their sum, 45%; observed
    divergence at sf0.001 is ~15%."""
    from aws_etl_pipeline_spark.operators.graph import (
        NF_ROUNDS,
        NFR_RSE,
        graph_neighborhood_function,
        graph_neighborhood_registers,
    )

    reg = sorted(
        graph_neighborhood_registers(spark, sf_dir).collect(),
        key=lambda r: r.radius,
    )
    kmv = sorted(
        graph_neighborhood_function(spark, sf_dir).collect(),
        key=lambda r: r.radius,
    )
    assert [r.radius for r in reg] == list(range(1, NF_ROUNDS + 1))
    assert len({r.n_nodes for r in reg}) == 1
    for a, b in zip(reg, kmv):
        assert a.n_nodes == b.n_nodes
        assert a.rse == NFR_RSE
        assert abs(a.avg_ball_est - b.avg_ball_est) <= 0.45 * b.avg_ball_est, (
            a,
            b,
        )
    for a, b in zip(reg, reg[1:]):
        assert b.nf_est >= a.nf_est, (a, b)
        assert b.avg_ball_est >= a.avg_ball_est, (a, b)


def test_register_delta_propagation_contract(spark, sf_dir):
    """r14: the changed-only propagation must (a) leave every staged
    per-round state a superset-growing register relation whose delta
    accounting is internally consistent (delta_rows <= state_rows;
    shipped rows = sum of deg x changed registers), (b) collapse the
    frontier on this dense fixture — the LAST round's delta must be
    strictly smaller than the ball-doubling round's, which is the
    entire point of shipping deltas — and (c) reuse: a diameter call
    right after the sibling must consume the SAME staged root (no
    second build), while a fresh registers call repoints the cache."""
    import os

    from aws_etl_pipeline_spark.operators.graph import (
        _NFREG_CACHE,
        _nfr_state_root,
        graph_neighborhood_registers,
        nf_register_round_stats,
    )

    graph_neighborhood_registers(spark, sf_dir).collect()
    root1 = _nfr_state_root(spark, sf_dir, reuse=True)
    assert os.path.exists(os.path.join(root1, "_COMPLETE"))
    # reuse: a second reuse=True call returns the same root
    assert _nfr_state_root(spark, sf_dir, reuse=True) == root1
    stats = nf_register_round_stats(spark, sf_dir)
    assert [s["round"] for s in stats] == [0, 1, 2, 3]
    n_nodes = stats[0]["state_rows"]
    for s in stats:
        assert s["delta_rows"] <= s["state_rows"]
    # seed: exactly one register per node, all new
    assert stats[0]["delta_rows"] == n_nodes
    # frontier collapse: the last round's delta is strictly below the
    # doubling round's (dense graph — balls saturate by round 2)
    assert stats[2]["delta_rows"] > stats[3]["delta_rows"] * 5
    # state growth is monotone in rows (registers only get added)
    for a, b in zip(stats, stats[1:]):
        assert b["state_rows"] >= a["state_rows"]
    # a fresh build (reuse=False) repoints the cache to a NEW root
    root2 = _nfr_state_root(spark, sf_dir, reuse=False)
    assert root2 != root1
    assert root2 in _NFREG_CACHE.values()


def test_register_state_runs_are_pruned(spark, sf_dir):
    """r13 advice (medium): repeated invocations must NOT accumulate
    run_N state dirs unboundedly — after several fresh builds only
    the newest run, the cache-pinned run, and the shared edges stage
    may remain under this process's root."""
    import glob
    import os

    from aws_etl_pipeline_spark import staging
    from aws_etl_pipeline_spark.operators.graph import graph_neighborhood_registers

    for _ in range(3):
        graph_neighborhood_registers(spark, sf_dir).collect()
    pid_root = staging.scratch_dir("nfregstate")
    runs = glob.glob(os.path.join(pid_root, "run_*"))
    assert len(runs) <= 2, runs  # newest + at most one cache-pinned


def test_effective_diameter_contract(spark, sf_dir):
    """r13: the HyperANF readout must be internally consistent with
    the register relation it derives from — d_eff in
    (radius_hit - 1, radius_hit], q pinned, and recomputing the
    interpolation in Python from the sibling's rounded nf values
    reproduces the engine's number exactly."""
    from aws_etl_pipeline_spark.operators.graph import (
        EFFDIAM_Q,
        graph_effective_diameter,
        graph_neighborhood_registers,
    )

    row = graph_effective_diameter(spark, sf_dir).collect()[0]
    assert row.q == EFFDIAM_Q
    assert row.radius_hit - 1 < row.eff_diameter <= row.radius_hit
    nfr = {
        r.radius: r.nf_est
        for r in graph_neighborhood_registers(spark, sf_dir).collect()
    }
    nfr[0] = float(row.n_nodes)
    thr = EFFDIAM_Q * row.nf_max
    r = min(rad for rad, nf in nfr.items() if nf >= thr)
    expect = (
        0.0
        if r == 0
        else round(r - 1 + (thr - nfr[r - 1]) / (nfr[r] - nfr[r - 1]), 4)
    )
    assert row.eff_diameter == expect


def test_register_slicing_state_is_bit_identical(spark, sf_dir, monkeypatch):
    """r14: SPARK_GRAFT_NF_SLICES=G partitions the HyperBall rounds by
    register-index class (registers are independent under the MAX
    merge), so the combined per-round state must be ROW-IDENTICAL to
    the one-pass build — the out-of-core knob that divides the
    1000x peak transient by G may not change a single register."""
    import os

    from aws_etl_pipeline_spark.operators.graph import (
        NF_ROUNDS,
        _nfr_state_root,
    )

    base_root = _nfr_state_root(spark, sf_dir, reuse=False)
    base = {
        r: sorted(
            (x.node, x.val)
            for x in spark.read.parquet(
                os.path.join(base_root, f"m{r}")
            ).collect()
        )
        for r in range(NF_ROUNDS + 1)
    }
    monkeypatch.setenv("SPARK_GRAFT_NF_SLICES", "3")
    sliced_root = _nfr_state_root(spark, sf_dir, reuse=False)
    assert sliced_root != base_root
    for r in range(NF_ROUNDS + 1):
        got = sorted(
            (x.node, x.val)
            for x in spark.read.parquet(
                os.path.join(sliced_root, f"m{r}")
            ).collect()
        )
        assert got == base[r], f"round {r} diverged under slicing"
        # slice staging dirs are gone once the round is combined
    assert not [
        d for d in os.listdir(sliced_root) if d.startswith("s")
    ], "slice dirs must be dropped after combine"


def test_nf_bucketed_edges_join_has_no_edge_exchange(spark, sf_dir):
    """r14: sliced mode reads edges from the bucketed TABLE; the
    round join must consume the bucketed layout with zero edge-side
    exchange (the pagerank_edges_table contract applied to the
    HyperBall family) — otherwise G slices x rounds re-shuffle the
    edge relation G*rounds times and slicing stops being affordable."""
    from pyspark.sql import functions as F

    from aws_etl_pipeline_spark.operators.graph import nf_edges_table

    edges = nf_edges_table(spark, sf_dir)
    delta = edges.select(F.col("ia"), F.lit(1).alias("val")).limit(10)
    plan = (
        edges.join(delta.hint("shuffle_hash"), "ia")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "bucket=true" in plan.lower() or "SelectedBucketsCount" in plan, plan
    # the edge-side scan must not sit under an Exchange: the only
    # exchange in the join subtree is the delta side's
    assert plan.count("Exchange hashpartitioning") <= 1, plan


#: Four parts bought together (a 4-clique: 4 triangles, 2 common
#: neighbours per edge) plus a fifth sharing an order with two of them.
_BASKETS = [(1, (10, 20, 30, 40)), (2, (30, 40, 50))]


def _lineitem_fixture(spark, root, parts):
    rows = [(o, parts.get(p, p)) for o, basket in _BASKETS for p in basket]
    spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint").write.parquet(
        str(root / "lineitem.parquet")
    )
    return str(root)


@pytest.mark.parametrize("name", ["graph_triangle_count", "graph_jaccard_neighbors"])
def test_packed_keys_match_the_oracle_on_bigint_ids(spark, tmp_path, name):
    import duckdb

    from aws_etl_pipeline_spark.registry import all_queries

    q = all_queries()[name]
    sf = _lineitem_fixture(spark, tmp_path, {})
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet/*.parquet')"
    )
    got = sorted(tuple(r) for r in q.fn(spark, sf).collect())
    assert got and got == sorted(con.execute(q.oracle).fetchall())


@pytest.mark.parametrize("bad_id", [2**32 + 20, -7])
@pytest.mark.parametrize("name", ["graph_triangle_count", "graph_jaccard_neighbors"])
def test_packed_keys_refuse_ids_outside_32_bits(spark, tmp_path, name, bad_id):
    """u * 2^32 + v is exact only for ids in [0, 2^31): 2^32 + 20 would
    pack like 20 plus one in u, and a negative id borrows from u."""
    from pyspark.errors import SparkRuntimeException

    from aws_etl_pipeline_spark.registry import all_queries

    sf = _lineitem_fixture(spark, tmp_path, {20: bad_id})
    with pytest.raises(SparkRuntimeException, match=r"node id outside \[0, 2\^31\)"):
        all_queries()[name].fn(spark, sf).collect()
