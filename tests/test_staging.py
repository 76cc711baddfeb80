"""The staging contract: one fingerprint, one completion marker, one
atomic publish, and per-call scratch confined to the process root."""

import glob
import os
import shutil
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from aws_etl_pipeline_spark import staging
from aws_etl_pipeline_spark.streaming import ingest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def tmpdir_root(tmp_path, monkeypatch):
    """Stages and scratch of this test land under ``tmp_path``."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _small(spark):
    return spark.range(40).select(
        (F.col("id") % 4).cast("int").alias("cell"), (F.col("id") * 3).alias("v")
    )


def test_stage_hit_launches_no_job(spark, sf_dir, tmpdir_root, jobs_during):
    write = staging.spread(lambda: _small(spark))
    staging.staged(spark, "hit_probe", sf_dir, write)  # build
    assert jobs_during(lambda: staging.staged(spark, "hit_probe", sf_dir, write)) == 0
    # the build path does launch jobs, so the probe can see them
    assert jobs_during(lambda: staging.staged(spark, "hit_probe2", sf_dir, write)) > 0


def test_recorded_schema_matches_read_back(spark, sf_dir, tmpdir_root):
    kinds = {
        "plain": staging.spread(lambda: _small(spark)),
        "partitioned": staging.partitioned(lambda: _small(spark), "cell"),
        "timesliced": lambda tmp: ingest._events_timesliced(spark, sf_dir, tmp),
        "dupes": lambda tmp: ingest._events_with_dupes(spark, sf_dir, tmp),
    }
    for name, write in kinds.items():
        path, schema = staging.stage(name, sf_dir, write)
        assert schema == spark.read.parquet(path).schema, name
    _, schema = staging.stage("partitioned", sf_dir, kinds["partitioned"])
    # an int partition column read back as bigint would flip xxhash digests
    assert schema["cell"].dataType == IntegerType()

    t = staging.bucketed(spark, "bucketed", sf_dir, lambda: _small(spark).write, "cell", 4)
    path = staging.location("bucketed", sf_dir)
    assert t.schema == spark.read.parquet(path).schema
    assert sorted(map(tuple, t.collect())) == sorted(map(tuple, _small(spark).collect()))
    spark.sql(f"DROP TABLE {os.path.basename(path)}")


def test_unmarked_dest_and_leftover_tmp_are_never_served(spark, sf_dir, tmpdir_root):
    dest = staging.location("partial", sf_dir)
    os.makedirs(dest)
    open(os.path.join(dest, "part-0.parquet"), "w").write("half-written")
    leftover = f"{dest}.tmp-1-deadbeef"
    shutil.copytree(dest, leftover)
    open(os.path.join(leftover, staging.MARKER), "w").write("{}")

    calls = []

    def write(tmp):
        calls.append(tmp)
        _small(spark).write.parquet(tmp)

    df = staging.staged(spark, "partial", sf_dir, write)
    assert len(calls) == 1
    assert df.count() == 40
    assert os.path.exists(os.path.join(dest, staging.MARKER))
    assert not os.path.exists(os.path.join(dest, "part-0.parquet"))


def test_fingerprint_tracks_mtime(tmp_path):
    sf = tmp_path / "sf"
    (sf / "orders.parquet").mkdir(parents=True)
    part = sf / "orders.parquet" / "part-0.parquet"
    part.write_bytes(b"x")
    (sf / "region.parquet").write_bytes(b"y")
    key = staging.fingerprint(str(sf))
    assert staging.fingerprint(str(sf)) == key
    st = part.stat()
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1000))  # sub-second
    assert staging.fingerprint(str(sf)) != key


def test_losing_the_rename_race_leaves_one_complete_dir(tmp_path):
    dest = str(tmp_path / "stage_0123456789abcdef")

    def writer(text, inner=None):
        def write(tmp):
            os.makedirs(tmp)
            if inner:
                inner()  # a concurrent writer publishes while this one writes
            open(os.path.join(tmp, "data.txt"), "w").write(text)

        return write

    staging.publish(dest, writer("loser", lambda: staging.publish(dest, writer("winner"))))
    assert open(os.path.join(dest, "data.txt")).read() == "winner"
    assert os.path.exists(os.path.join(dest, staging.MARKER))
    assert glob.glob(f"{dest}.tmp*") == []
    # a later build replaces the earlier one
    staging.publish(dest, writer("rewrite"))
    assert open(os.path.join(dest, "data.txt")).read() == "rewrite"
    assert glob.glob(f"{dest}.tmp*") == []


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def _ids(df) -> list[int]:
    return sorted(r[0] for r in df.collect())


def test_failed_fold_leaves_previous_target(spark, tmp_path):
    from pyspark.sql.utils import CapturedException

    path = str(tmp_path / "target")
    staging.fold(spark, path, lambda prev: spark.range(10))
    marker = open(os.path.join(path, staging.MARKER)).read()

    @F.udf("long")
    def boom(i):
        if i == 7:
            raise ValueError("write fails mid-job")
        return i

    def step(prev):
        return prev.unionByName(spark.range(10, 20)).select(boom("id").alias("id"))

    with pytest.raises((CapturedException, ValueError)):
        staging.fold(spark, path, step)
    assert _ids(staging.current(spark, path)) == list(range(10))
    assert open(os.path.join(path, staging.MARKER)).read() == marker
    # tasks still being killed may write into the failed generation
    # after it is removed, but it never gets a marker
    assert glob.glob(f"{path}.tmp*/{staging.MARKER}") == []


def test_current_adopts_only_a_marked_generation_of_a_dead_writer(spark, tmp_path):
    path = str(tmp_path / "target")
    dead = _dead_pid()

    def generation(n: int, name: str) -> str:
        staging.publish(path, lambda tmp: spark.range(n).write.parquet(tmp))
        os.rename(path, f"{path}.tmp-{name}")
        return f"{path}.tmp-{name}"

    # a crash between publish's renames: the old generation moved aside,
    # the new one (marked last) not yet renamed into place
    generation(10, f"{dead}-0000aaaa-old")
    new = generation(20, f"{dead}-0000bbbb")
    # newer but unmarked, and marked but its writer alive: never adopted
    spark.range(30).write.parquet(f"{path}.tmp-{dead}-0000cccc")
    generation(40, f"{os.getpid()}-0000dddd")

    assert _ids(staging.current(spark, path)) == list(range(20))
    assert os.path.exists(os.path.join(path, staging.MARKER))
    assert not os.path.exists(new)

    shutil.rmtree(path)
    for gen in glob.glob(f"{path}.tmp-*"):
        if not gen.endswith("0000cccc"):
            shutil.rmtree(gen)
    assert staging.current(spark, path) is None
    assert glob.glob(f"{path}.tmp-*") == [f"{path}.tmp-{dead}-0000cccc"]


def test_current_of_a_marked_target_launches_no_job(spark, tmp_path, jobs_during):
    path = str(tmp_path / "target")
    staging.fold(spark, path, lambda prev: spark.range(10))
    assert jobs_during(lambda: staging.current(spark, path)) == 0
    # an unmarked target is read with inference, which the probe sees
    plain = str(tmp_path / "plain")
    spark.range(10).write.parquet(plain)
    assert jobs_during(lambda: staging.current(spark, plain)) > 0


def test_calls_leave_no_dir_outside_the_process_root(spark, sf_dir, tmpdir_root):
    from aws_etl_pipeline_spark.streaming.ingest import (
        stream_exec_sketch_merge,
        stream_exec_upsert,
    )

    stream_exec_upsert(spark, sf_dir).collect()
    stream_exec_sketch_merge(spark, sf_dir).collect()
    assert sorted(p.name for p in tmpdir_root.glob("spark_graft_*")) == [
        f"spark_graft_scratch_{os.getpid()}",
        "spark_graft_stage",
    ]


def test_scratch_root_removed_at_exit_and_dead_roots_swept(tmp_path):
    stale = tmp_path / f"spark_graft_scratch_{_dead_pid()}"
    stale.mkdir()
    code = (
        "import os; from aws_etl_pipeline_spark import staging; "
        "os.makedirs(staging.scratch_dir('x'))"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=ROOT)
    subprocess.run([sys.executable, "-c", code], env=env, check=True)
    assert list(tmp_path.glob("spark_graft_scratch_*")) == []


def _marker_schema(path: str):
    import json

    from pyspark.sql.types import StructType

    with open(os.path.join(path, staging.MARKER)) as fh:
        return StructType.fromJson(json.load(fh)["schema"])


def test_fold_records_the_schema_parquet_reads_back(spark, sf_dir, tmpdir_root, jobs_during):
    """A fold takes its marker schema from the frame it writes, made
    nullable as parquet reads it: nested fields, non-nullable columns
    and field metadata included, for every fold user."""
    from aws_etl_pipeline_spark.generator import generate_transactions
    from aws_etl_pipeline_spark.operators.etl import transform_transactions
    from aws_etl_pipeline_spark.operators.upsert import merge_into_parquet

    nested = str(tmpdir_root / "nested")
    frame = spark.range(5).select(
        F.col("id").alias("k", metadata={"comment": "key"}),
        F.struct(F.col("id").alias("x"), F.array(F.col("id")).alias("xs")).alias("s"),
        F.create_map(F.lit("a"), F.struct(F.col("id").alias("y"))).alias("m"),
        F.lit(None).cast("string").alias("n"),
    )
    write_jobs = jobs_during(lambda: frame.write.parquet(str(tmpdir_root / "plain")))
    assert jobs_during(lambda: staging.fold(spark, nested, lambda prev: frame)) == write_jobs
    targets = [nested]

    upsert = str(tmpdir_root / "upsert")
    for seed in (1, 2):
        merge_into_parquet(
            transform_transactions(generate_transactions(spark, 40, seed=seed)),
            upsert,
            key="transaction_id",
        )
    targets.append(upsert)

    for q in (
        ingest.stream_exec_upsert,  # _keep_latest
        ingest.stream_exec_cdc,  # _keep_latest, tombstones
        ingest.stream_exec_sketch_merge,
        ingest.stream_exec_topk_merge,
    ):
        q(spark, sf_dir).collect()
    for prefix in ("streamupsert_", "streamcdc_", "kmvstate_", "topkstate_"):
        (target,) = glob.glob(staging.scratch_dir(f"{prefix}*"))
        targets.append(target)

    for path in targets:
        assert _marker_schema(path) == spark.read.parquet(path).schema, path


def test_dupes_wm_fixture_computes_its_window_once(spark, sf_dir, tmpdir_root, jobs_during):
    """The watermarked-dupes fixture persists its quartered events once
    for its one aggregate and five slice writes: 8 jobs, where computing
    the global window per consumer took 14."""
    from aws_etl_pipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "events")  # the schema inference job is not the fixture's
    tmp = str(tmpdir_root / "dupes_wm")
    assert jobs_during(lambda: ingest._events_dupes_wm(spark, sf_dir, tmp)) <= 8
    assert len(glob.glob(os.path.join(tmp, "slice_*.parquet"))) == 5
