import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_pipeline_spark.session import get_spark, stop_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    yield s
    stop_spark(s)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def probe(spark):
    """The session's job, py4j-command and codegen counters
    (``aws_etl_pipeline_spark.profile``)."""
    from aws_etl_pipeline_spark.profile import Probe

    return Probe(spark)


@pytest.fixture(scope="session")
def jobs_during(probe):
    """``jobs_during(fn)``: the Spark jobs submitted while ``fn`` runs,
    from any thread."""
    return lambda fn: probe.during(fn).jobs


@pytest.fixture(scope="session")
def py4j_calls_during(probe):
    """``py4j_calls_during(fn)``: the commands Python sends the JVM while
    ``fn`` runs, object deletes not counted."""
    return lambda fn: probe.during(fn).py4j


@pytest.fixture(autouse=True)
def _sweep_tracked_cache():
    """Unpersist the previous test's tracked blocks before each test —
    the same boundary discipline every harness applies before building
    a query plan (``__spark_entry__._with_cache_sweep``, ``bench.py``,
    ``tools/check.py``). Without it a prior test's persisted relation
    leaks into later plan-shape assertions through CacheManager
    subtree substitution (observed: test_llm.py's tracked band rows
    rewrote test_plans.py's incremental-minhash plan into an
    InMemoryTableScan the production path never sees)."""
    from aws_etl_pipeline_spark.cache import clear_persisted

    clear_persisted()
    yield
