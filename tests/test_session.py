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
