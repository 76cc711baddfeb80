import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_during(spark):
    """``jobs_during(fn)``: the Spark jobs the status store records
    while ``fn`` runs."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"probe-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job probe")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def py4j_calls_during(spark):
    """``py4j_calls_during(fn)``: the commands Python sends the JVM while
    ``fn`` runs. Object deletes (``m\nd\n``) are not counted: py4j
    sends them on garbage collection, whenever that happens."""
    from py4j.clientserver import ClientServerConnection

    def count(fn) -> int:
        sent = []
        send = ClientServerConnection.send_command

        def counting(self, command):
            if not command.startswith("m\nd\n"):
                sent.append(command)
            return send(self, command)

        ClientServerConnection.send_command = counting
        try:
            fn()
        finally:
            ClientServerConnection.send_command = send
        return len(sent)

    return count


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
