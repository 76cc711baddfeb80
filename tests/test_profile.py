"""The one set of counters and the one rep loop
(``aws_etl_pipeline_spark.profile``)."""

import os
import sys

import pytest

from aws_etl_pipeline_spark.profile import measure
from aws_etl_pipeline_spark.registry import all_queries

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
from sparkstats import StatusStore  # noqa: E402


def test_reading_the_counters_costs_nothing(probe):
    cost = probe.during(lambda: None)
    assert (cost.jobs, cost.py4j, cost.compiles) == (0, 0, 0)


def test_a_drains_own_jobs_count_as_the_status_store_sees_them(spark, sf_dir, probe):
    # the drain submits its jobs from the stream's thread, where a job
    # group set on this thread does not reach: counting by group saw 2
    # of the 7 jobs
    q = all_queries()["stream_exec_dedup_watermarked"]
    q.fn(spark, sf_dir).count()  # warm
    store = StatusStore(spark)
    # the store walks job ids up from its start and stops at the first
    # one it no longer holds (it keeps spark.ui.retainedJobs), so start
    # it where the probe stands
    store._next_job = probe.read().jobs
    cost = probe.during(lambda: q.fn(spark, sf_dir).count())
    assert cost.jobs > 0
    assert len(store.new_jobs()) == cost.jobs


def test_measure_splits_build_from_execute(spark, probe):
    def fn(spark, sf_dir):
        return spark.range(10).selectExpr("id % 3 AS k").distinct()

    reps = measure(spark, fn, "unused", 2, probe, optimize=True)
    assert [r.rows for r in reps] == [3, 3]
    assert all(r.built.jobs == 0 and r.ran.jobs > 0 for r in reps)
    assert all(r.built.py4j > 0 for r in reps)
    assert all(r.seconds == r.build_s + r.optimize_s + r.execute_s for r in reps)


#: (jobs, py4j call commands) inside a warm ``fn()`` of each
#: ``olap_short`` query at sf0.001: the build sends a fixed number of
#: commands, and only bpe_train_merges launches jobs (the vocabulary
#: aggregate's shuffle stage and its bounded collect).
OLAP_SHORT_BUILDS = {
    "etl_flagship": (0, 505),
    "q3_shipping_priority": (0, 377),
    "q6_forecast_revenue": (0, 295),
    "sql_cte_chain": (0, 51),
    "agg_distinct": (0, 112),
    "upsert_merge": (0, 175),
    "multimodal_features": (0, 85),
    "bpe_train_merges": (2, 138),
}


@pytest.mark.parametrize("name", sorted(OLAP_SHORT_BUILDS))
def test_olap_short_build_budget(spark, sf_dir, jobs_during, py4j_calls_during, name):
    jobs, py4j = OLAP_SHORT_BUILDS[name]
    fn = all_queries()[name].fn
    fn(spark, sf_dir)  # warm: schema inference, fixture staging
    assert jobs_during(lambda: fn(spark, sf_dir)) <= jobs
    # 10% headroom over the pinned count
    assert py4j_calls_during(lambda: fn(spark, sf_dir)) <= py4j * 1.1
