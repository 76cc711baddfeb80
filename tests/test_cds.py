"""The driver JVM's class-data-sharing archive (``cds.py``)."""

import gzip
import importlib.util
import os
import subprocess
import sys

import pytest

from aws_etl_pipeline_spark import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: A fresh session in a subprocess: its ``cds`` line goes to stderr, and
#: stdout gets the JVM's ``java.vm.info``, the value of a probe conf and
#: the ``etl_flagship`` digest.
SESSION = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from aws_etl_pipeline_spark.registry import all_queries
from aws_etl_pipeline_spark.session import get_spark, stop_spark
spark = get_spark("cds-test", cpus=1)
df = all_queries()["etl_flagship"].fn(spark, {sf_dir!r})
print("info", spark._jvm.System.getProperty("java.vm.info"))
print("probe", spark.conf.get("spark.graft.probe", "unset"))
print("digest", tuple(df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns))).first()))
stop_spark(spark)
"""


def _session(sf_dir, **env):
    proc = subprocess.run(
        [sys.executable, "-c", SESSION.format(root=ROOT, sf_dir=sf_dir)],
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", **env},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = dict(ln.split(" ", 1) for ln in proc.stdout.splitlines() if " " in ln)
    cds_lines = [ln for ln in proc.stderr.splitlines() if ln.startswith("cds ")]
    return out, cds_lines


@pytest.fixture(scope="module")
def flagship_digest(spark, sf_dir):
    from pyspark.sql import functions as F

    from aws_etl_pipeline_spark.registry import all_queries

    df = all_queries()["etl_flagship"].fn(spark, sf_dir)
    return str(tuple(df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns))).first()))


def test_key_follows_jars_and_class_list_not_checkout(tmp_path):
    java = tmp_path / "java"
    java.write_bytes(b"jvm")
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"aaaa")
    (jars / "b.jar").write_bytes(b"bb")
    names = tmp_path / "classes.txt.gz"
    names.write_bytes(b"list")

    def key():
        return cds.key(str(java), str(jars), str(names))

    seen = [key()]
    (jars / "a.jar").write_bytes(b"aaaaa")  # size
    seen.append(key())
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime
    seen.append(key())
    names.write_bytes(b"list2")  # class list
    seen.append(key())
    assert len(set(seen)) == 4
    # the same class list in another checkout (new path and mtime) keeps the key
    moved = tmp_path / "elsewhere.gz"
    moved.write_bytes(b"list2")
    assert cds.key(str(java), str(jars), str(moved)) == seen[-1]


def _build_cds_tool():
    spec = importlib.util.spec_from_file_location(
        "build_cds", os.path.join(ROOT, "tools", "build_cds.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_class_list_is_sorted_distinct_and_archivable():
    tool = _build_cds_tool()
    with gzip.open(cds.CLASS_LIST, "rt") as fh:
        lines = fh.read().splitlines()
    assert len(lines) > 10_000
    assert lines == sorted(set(lines))
    signed = tool.signed_classes(cds.jars_dir())
    assert any(n.startswith("org/codehaus/janino/") for n in signed)
    for ln in lines:
        name = tool.subject(ln)
        assert name, ln
        assert not tool.GENERATED.search(name), ln
        assert name not in signed, ln
    # the filter itself drops what the JVM's raw list would carry
    raw = [
        "jdk/proxy1/$Proxy12",
        "jdk/internal/reflect/GeneratedMethodAccessor3",
        "jdk/jfr/internal/handlers/EventHandler1_Foo",
        "org/codehaus/janino/Java",
        "com/x/Custom id: 7 super: 0 source: /tmp/x.jar",
        "java/lang/Object",
        "java/lang/Object",
    ]
    assert tool.archivable(raw, {"org/codehaus/janino/Java"}) == ["java/lang/Object"]


@pytest.mark.parametrize(
    "error, reason",
    [
        (subprocess.CalledProcessError(1, "java", b"", b"dump failed"), "build-failed"),
        (subprocess.TimeoutExpired("java", cds.BUILD_TIMEOUT_S), "timeout"),
    ],
)
def test_a_failed_build_is_not_retried(tmp_path, monkeypatch, error, reason):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    calls = []

    def dump(*args):
        calls.append(args)
        raise error

    monkeypatch.setattr(cds, "_dump", dump)
    assert cds.ensure() == ("off", reason, None)
    assert cds.ensure() == ("off", "failed", None)
    assert len(calls) == 1


def _archive() -> str:
    return os.path.join(cds.cache_dir(), f"{cds.key(cds.java_binary(), cds.jars_dir())}.jsa")


def test_corrupt_archive_is_refused_once_and_rows_match(
    spark, sf_dir, tmp_path, monkeypatch, flagship_digest
):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    archive = _archive()
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as fh:
        fh.write(os.urandom(4096))
    out, lines = _session(sf_dir)
    assert [ln.split()[:3] for ln in lines] == [["cds", "off", "refused"]]
    assert "sharing" not in out["info"]
    assert out["digest"] == flagship_digest
    with open(archive, "rb") as fh:
        assert len(fh.read()) == 4096  # not rebuilt
    assert cds.ensure() == ("off", "failed", None)  # no later process retries


def test_session_with_a_valid_archive_shares(spark, sf_dir, flagship_digest):
    assert os.path.exists(_archive())  # built or found by the test session
    out, lines = _session(sf_dir)
    assert [ln.split()[:2] for ln in lines] == [["cds", "hit"]]
    assert "sharing" in out["info"]
    assert out["digest"] == flagship_digest


def test_real_conf_dir_keeps_its_settings(spark, sf_dir, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe 42\n")
    out, lines = _session(sf_dir, SPARK_CONF_DIR=str(conf))
    assert out["probe"] == "42"
    assert [ln.split()[:3] for ln in lines] == [["cds", "off", "conf"]]
