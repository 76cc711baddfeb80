"""The driver-heap rule of ``get_spark``."""

import pytest

from aws_etl_pipeline_spark.session import DRIVER_MEM_CAP_MB, driver_memory

GIB = 2**30


@pytest.mark.parametrize(
    "phys_gib, heap",
    [(15, "3840m"), (16, "4096m"), (48, "12288m"), (256, f"{DRIVER_MEM_CAP_MB}m"), (2, "1024m")],
)
def test_default_heap_is_a_quarter_of_memory_capped(monkeypatch, phys_gib, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(phys_gib * GIB) == heap


def test_env_overrides_the_rule(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert driver_memory(256 * GIB) == "6g"


def test_default_reads_this_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mb = int(driver_memory().rstrip("m"))
    assert 1024 <= mb <= DRIVER_MEM_CAP_MB


def test_stop_streaming_stops_state_store_maintenance(spark, sf_dir):
    from aws_etl_pipeline_spark.registry import all_queries
    from aws_etl_pipeline_spark.session import stop_streaming

    q = all_queries()["stream_exec_dedup_watermarked"]
    q.fn(spark, sf_dir).count()  # warm
    q.fn(spark, sf_dir).count()
    state_store = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    assert state_store.isMaintenanceRunning()
    stop_streaming(spark)
    assert spark.streams.active == []
    assert not state_store.isMaintenanceRunning()
