"""Build-once fixtures and per-call scratch under ``$TMPDIR``.

A stage is a directory ``$TMPDIR/spark_graft_stage/<name>_<fingerprint>``
derived from the testdata in ``sf_dir``: edge lists, IVF/PQ index
bodies, the MinHash history index, replayed event files, re-laid-out
scan tables. The invariant every stage keeps:

- The fingerprint covers the absolute ``sf_dir`` path plus
  ``(name, mtime_ns, size)`` of every file under every table, so
  testdata rewritten in place never serves a stale stage.
- A stage is complete iff it holds the marker file ``_STAGE.json``,
  and nothing but a complete stage is ever served. The marker is
  written into a private ``<dest>.tmp-*`` dir after ``write`` returns,
  and that dir is then renamed to ``<dest>``, so a reader sees either
  no stage or a complete one. Files named ``_*`` are hidden from Spark
  readers, so the marker never enters a scan.
- The marker records the fingerprint and the parquet schema read back
  once at build time. A hit reads with that schema, so serving a
  stage launches no Spark job (schema inference costs one job,
  ~100 ms on ``local[2]``) and a partition column keeps the type it
  was inferred with when built: a stage's writer may partition by
  directory, and only a read-back knows the types parquet infers from
  the directory names.

A target is a parquet directory that a sequence of writes replaces
whole: an upsert sink, a streaming merge target, sketch state. ``fold``
is the one way to rewrite it, and the invariant every target keeps:

- One writer per target. ``fold`` reads the current generation,
  writes the next one through ``publish`` and swaps it in, so a write
  that fails leaves the previous generation in place.
- A fold writes one flat frame, so its marker schema is that frame's
  schema with every field nullable, which is how parquet reads it
  back. No job reads the new generation back.
- A target is complete iff it holds the marker, or it is a directory
  that existed before any ``fold`` (written by plain Spark, or copied
  without regard to the marker); the latter is read with schema
  inference.
- A crash between ``publish``'s two renames leaves ``<path>`` missing
  and its generations in ``<path>.tmp-*``. Recovery adopts the newest
  marked generation whose writer is dead; an unmarked one, or one
  still being written, is never adopted. Stages recover the same way.

Per-call state that must not outlive the process (streaming sink
targets, sketch and iteration state) lives under ``scratch_dir``: one
root per process, removed at exit, with roots of dead processes swept
on first use.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import json
import logging
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

log = logging.getLogger(__name__)
if not log.handlers:
    log.addHandler(logging.StreamHandler())  # stderr
    log.setLevel(logging.INFO)

MARKER = "_STAGE.json"
_SCRATCH_PREFIX = "spark_graft_scratch"


def files_key(path: str, root: str) -> tuple[tuple[str, int, int], ...]:
    """``(relpath from root, mtime_ns, size)`` of the file ``path``, or
    of every file under the directory ``path``: the content key of one
    table, so a table rewritten in place gets a new key."""
    paths = [path]
    if os.path.isdir(path):
        paths = []
        for dirpath, dirnames, files in os.walk(path):
            dirnames.sort()
            paths += [os.path.join(dirpath, f) for f in sorted(files)]
    out = []
    for p in paths:
        st = os.stat(p)
        out.append((os.path.relpath(p, root), st.st_mtime_ns, st.st_size))
    return tuple(out)


def fingerprint(sf_dir: str) -> str:
    """Content key of the testdata: absolute path plus ``files_key`` of
    every ``<table>.parquet`` entry."""
    root = os.path.abspath(sf_dir)
    h = hashlib.md5(root.encode())
    for table in sorted(e for e in os.listdir(root) if e.endswith(".parquet")):
        for rel, mtime_ns, size in files_key(os.path.join(root, table), root):
            h.update(f"{rel}:{mtime_ns}:{size}".encode())
    return h.hexdigest()[:16]


def location(name: str, sf_dir: str) -> str:
    """Where the stage ``name`` of ``sf_dir`` lives."""
    return os.path.join(
        tempfile.gettempdir(), "spark_graft_stage", f"{name}_{fingerprint(sf_dir)}"
    )


def _marker(gen: str, dest: str | None = None) -> dict | None:
    """The marker of a complete generation ``gen`` of ``dest`` (default
    ``gen`` itself), else None."""
    try:
        with open(os.path.join(gen, MARKER)) as fh:
            m = json.load(fh)
    except (OSError, ValueError):
        return None
    return m if m.get("fingerprint") == (dest or gen).rsplit("_", 1)[-1] else None


def _alive(pid: int) -> bool:
    """Whether process ``pid`` exists (under any uid)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive under another uid
    return True


def _recover(dest: str) -> dict | None:
    """The marker at ``dest``. When ``dest`` is missing, first adopt
    the newest marked ``<dest>.tmp-<pid>-*`` generation whose writer is
    dead: a crash between ``publish``'s two renames left it there."""
    if not os.path.exists(dest):
        gens = []
        for gen in glob.glob(f"{glob.escape(dest)}.tmp-*"):
            pid = gen[len(dest) + len(".tmp-") :].split("-", 1)[0]
            if pid.isdigit() and not _alive(int(pid)) and _marker(gen, dest):
                gens.append((os.stat(os.path.join(gen, MARKER)).st_mtime_ns, gen))
        if gens:
            with contextlib.suppress(OSError):
                os.rename(max(gens)[1], dest)
    return _marker(dest)


def _parquet_schema(path: str) -> dict | None:
    """Schema of the parquet files at ``path`` (flat or partitioned),
    or None when it holds none."""
    if not (
        glob.glob(os.path.join(path, "*.parquet"))
        or glob.glob(os.path.join(path, "*=*", "*.parquet"))
    ):
        return None
    return SparkSession.active().read.parquet(path).schema.jsonValue()


def _as_read(t: DataType) -> DataType:
    """``t`` as parquet reads it back: every field, element and map
    value nullable."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_read(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_read(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_read(t.keyType), _as_read(t.valueType), True)
    return t


def _stamp(dest: str) -> tuple[int, int] | None:
    """Identity of the marker at ``dest``, None when there is none."""
    try:
        st = os.stat(os.path.join(dest, MARKER))
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns


def publish(dest: str, write) -> None:
    """Build ``dest`` with ``write(tmp)`` into a private tmp dir, mark
    it complete and rename it into place. A dest left by an earlier
    build is replaced; if a concurrent writer publishes ``dest`` after
    this call started, that copy is kept and this one discarded.

    ``write`` may return the schema of the one flat parquet frame it
    wrote; the marker records it as parquet reads it back. When it
    returns None the schema is read back from ``tmp``."""
    seen = _stamp(dest)
    tmp = f"{dest}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    old = f"{tmp}-old"
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    try:
        written = write(tmp)
        marker = {
            "fingerprint": dest.rsplit("_", 1)[-1],
            "schema": (
                _parquet_schema(tmp) if written is None else _as_read(written).jsonValue()
            ),
        }
        with open(os.path.join(tmp, MARKER), "w") as fh:
            json.dump(marker, fh)
        if _stamp(dest) not in (None, seen):
            return  # a concurrent writer already published
        with contextlib.suppress(FileNotFoundError):
            os.rename(dest, old)
        with contextlib.suppress(OSError):
            os.rename(tmp, dest)  # fails only if a concurrent writer won
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)


def stage(name: str, sf_dir: str, write) -> tuple[str, StructType | None]:
    """Return ``(path, schema)`` of the stage ``name`` of ``sf_dir``,
    publishing it with ``write(tmp)`` unless a complete one exists.
    ``schema`` is the recorded parquet schema, None for other formats."""
    t0 = time.perf_counter()
    dest = location(name, sf_dir)
    marker = _recover(dest)
    hit = marker is not None
    if not hit:
        publish(dest, write)
        marker = _marker(dest)
    log.info(
        "stage %s %s %.0f ms",
        name,
        "hit" if hit else "built",
        (time.perf_counter() - t0) * 1e3,
    )
    schema = marker["schema"]
    return dest, schema and StructType.fromJson(schema)


def staged(spark: SparkSession, name: str, sf_dir: str, write) -> DataFrame:
    """The parquet stage ``name`` as a batch DataFrame."""
    path, schema = stage(name, sf_dir, write)
    return spark.read.schema(schema).parquet(path)


def replay(spark: SparkSession, sf_dir: str, kind) -> DataFrame:
    """The parquet stage written by ``kind(spark, sf_dir, tmp)`` as a
    stream that delivers one file per micro-batch, in file mtime
    order. The stage is named after ``kind``."""
    path, schema = stage(
        kind.__name__.lstrip("_"), sf_dir, lambda tmp: kind(spark, sf_dir, tmp)
    )
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def current(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet target at ``path``, None when there is none. A
    marked target is read with its recorded schema (no Spark job); an
    unmarked directory is read with schema inference."""
    marker = _recover(path)
    if marker and marker["schema"]:
        return spark.read.schema(StructType.fromJson(marker["schema"])).parquet(path)
    return spark.read.parquet(path) if os.path.isdir(path) else None


def fold(spark: SparkSession, path: str, step) -> None:
    """Replace the parquet target at ``path`` with ``step(previous)``,
    where ``previous`` is ``current(spark, path)``. The next generation
    is written and marked beside the target and then swapped in, so it
    may read the previous one and a failed write changes nothing."""
    previous = current(spark, path)  # before publish notes the marker

    def write(tmp: str) -> StructType:
        df = step(previous)
        df.write.parquet(tmp)
        return df.schema

    publish(path, write)


def spread(build):
    """A ``write`` for ``build()`` spread over the session's parallelism.

    AQE coalesces a builder's final shuffle to a few partitions, and a
    4-file stage caps every downstream scan at 4 tasks (at the 1000x
    replica that bounded the pagerank loop to 4-way parallelism). The
    round-robin repartition scatters similar rows, which cost ~3.5x on
    disk (1000x custsupp stage); the sort inside each partition
    restores run-length locality for the encoder without an exchange."""

    def write(tmp: str) -> None:
        df = build()
        n = df.sparkSession.sparkContext.defaultParallelism
        df.repartition(n).sortWithinPartitions(*df.columns).write.parquet(tmp)

    return write


def partitioned(build, col: str):
    """A ``write`` for ``build()`` directory-partitioned by ``col``, so
    readers filtering on it prune whole directories
    (``PartitionFilters``). The write shuffle is keyed on ``col``, so
    each directory is written by one task: one file per value."""

    def write(tmp: str) -> None:
        df = build()
        rest = [c for c in df.columns if c != col]
        df.repartition(F.col(col)).sortWithinPartitions(col, *rest).write.partitionBy(
            col
        ).parquet(tmp)

    return write


def bucketed(
    spark: SparkSession, name: str, sf_dir: str, writer, col: str, buckets: int
) -> DataFrame:
    """The stage ``name`` as a table bucketed and sorted on ``col``.

    ``writer()`` returns the DataFrameWriter of the rows (with any
    format options set). The files are published like any stage; the
    table ``<name>_<fingerprint>`` is an external table over them,
    registered per session (the catalog is in-memory), so a bucketed
    scan reports HashPartitioning(col, buckets) and joins on ``col``
    consume the on-disk layout without an exchange."""

    def write(tmp: str) -> None:
        scratch_tbl = f"spark_graft_tmp_{uuid.uuid4().hex[:8]}"
        writer().bucketBy(buckets, col).sortBy(col).option("path", tmp).saveAsTable(
            scratch_tbl
        )
        spark.sql(f"DROP TABLE {scratch_tbl}")  # external: files stay

    path, schema = stage(name, sf_dir, write)
    tbl = os.path.basename(path)
    if not spark.catalog.tableExists(tbl):
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
        spark.sql(
            f"""CREATE TABLE IF NOT EXISTS {tbl} ({cols})
                USING parquet
                CLUSTERED BY ({col}) SORTED BY ({col}) INTO {buckets} BUCKETS
                LOCATION '{path}'"""
        )
    return spark.table(tbl)


def _sweep_dead_roots() -> None:
    """Remove scratch roots whose owning process (the pid suffix of the
    dir name) no longer exists; a live process's root is never
    touched."""
    for stale in glob.glob(os.path.join(tempfile.gettempdir(), f"{_SCRATCH_PREFIX}_*")):
        try:
            owner = int(stale.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if not _alive(owner):
            shutil.rmtree(stale, ignore_errors=True)


_SCRATCH_ROOTS: set[str] = set()


def scratch_dir(prefix: str) -> str:
    """``<process root>/<prefix>``: per-call scratch that no other
    process can see or delete. The process root is removed at exit."""
    root = os.path.join(tempfile.gettempdir(), f"{_SCRATCH_PREFIX}_{os.getpid()}")
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        _sweep_dead_roots()
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, prefix)
