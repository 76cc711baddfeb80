"""The workloads and the operations they run.

Every operation calls the engine only through its public functions:
registry callables, ``catalog.load_table``, ``operators.etl.run_pipeline``
and ``cache.clear_persisted``. Each call is timed from outside and its
output is checked before the next operation starts.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datagen import IngestStream
from hostcpu import host_cpu, host_share

PACKAGE = "aws_etl_pipeline_spark"
#: Rows per landed CSV batch (about 1.0-1.5 s per merge on 2 cores).
BATCH_ROWS = 10_000


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]  # registry query names, or LAND
    tables: tuple[str, ...]  # loaded through catalog.load_table once per pass
    warmup: int  # untimed passes before the measured ones


LAND = "land_batch"

WORKLOADS = {
    # One interactive session of short queries: driver work and per-job
    # scheduling dominate (plan build with its schema-inference jobs is
    # about 28% of a warm pass). The two LLM-pipeline queries cross the
    # Arrow UDF boundary and run a driver-side merge loop. The second
    # execution of these queries is still about 30% slower than the
    # third, so two passes warm up.
    "olap_short": Workload(
        ops=(
            "etl_flagship", "q3_shipping_priority",
            "q6_forecast_revenue", "sql_cte_chain", "agg_distinct", "upsert_merge",
            "multimodal_features", "bpe_train_merges",
        ),
        tables=("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents"),
        warmup=2,
    ),
    # The reference's own workflow and the write path: landed batches
    # merged into a target that grows through the pass, interleaved with
    # a streaming drain that keeps its state in the state store. Two
    # landings per drain keep the median on a landing and a pass short
    # enough that three fit the window. The second pass is still a few
    # percent slower than the third, so two passes warm up.
    "ingest_upsert": Workload(
        ops=(LAND,) * 2 + ("stream_exec_dedup_watermarked",),
        tables=(),
        warmup=2,
    ),
}


@dataclass
class Sample:
    """One timed operation."""

    op: str
    module: str  # the callable's module, package prefix removed
    start: float
    build_s: float
    execute_s: float
    ok: bool
    detail: str = ""
    rows_landed: int = 0
    bytes_landed: int = 0
    bytes_written: int = 0
    cpu_share: float = 1.0  # host_share() while the operation was timed

    @property
    def latency_s(self) -> float:
        return self.build_s + self.execute_s

    @property
    def net_s(self) -> float:
        """Latency with the time the host stole taken out."""
        return self.latency_s * self.cpu_share

    @property
    def build_end(self) -> float:
        return self.start + self.build_s

    @property
    def end(self) -> float:
        return self.start + self.latency_s


def _canonical(f: T.StructField):
    """Column as hashed for the digest. Doubles are rounded to 6 places
    so a change of summation order cannot flip a digest; maps become
    sorted entry arrays because hash expressions reject maps."""
    c = F.col(f"`{f.name}`")
    t = f.dataType
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return F.round(c, 6)
    if isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(c, lambda x: F.round(x, 6))
    if isinstance(t, T.MapType):
        return F.array_sort(F.map_entries(c))
    return c


def digest(df: DataFrame) -> list:
    """Row count and order-insensitive ``sum(xxhash64(*cols))``. Unlike a
    ``count()`` sink, hashing every column forces every computed column
    to be evaluated."""
    cols = [_canonical(f) for f in df.schema.fields]
    row = df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*cols))).first()
    return [int(row[0]), None if row[1] is None else int(row[1])]


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass  # removed while walking (a Spark temp file)
    return total


class Runner:
    """Runs single operations against one session and checks each result."""

    def __init__(self, spark, work_dir: str, seed: int):
        from aws_etl_pipeline_spark.registry import all_queries

        self.spark, self.work_dir = spark, work_dir
        self.queries = all_queries()
        self.stream = IngestStream(seed, BATCH_ROWS)
        self.batches = 0
        self.target = os.path.join(work_dir, "target")
        self.base = os.path.join(work_dir, "base")
        self.base_keys: list[int] | None = None

    def freeze_base(self) -> None:
        """Keep the upsert target the warm-up passes left behind as the
        base that every later pass starts from, so each pass merges into
        targets of the same sizes and does the same work."""
        if os.path.isdir(self.target):
            shutil.copytree(self.target, self.base)
            self.base_keys = list(self.stream.landed_keys)

    def reset(self) -> None:
        """Restore the upsert target and the landed keys to the base."""
        if self.base_keys is not None:
            shutil.rmtree(self.target)
            shutil.copytree(self.base, self.target)
            self.stream.landed_keys = list(self.base_keys)

    def module_of(self, op: str) -> str:
        if op == LAND:
            return "operators.etl"
        return self.queries[op].fn.__module__.removeprefix(PACKAGE + ".")

    def run(self, op: str, sf_dir: str, pins: dict) -> Sample:
        """Run ``op`` on the tables in ``sf_dir``; a query's digest must
        equal its entry in ``pins``."""
        return self._land() if op == LAND else self._query(op, sf_dir, pins.get(op))

    def _query(self, name: str, sf_dir: str, want) -> Sample:
        fn = self.queries[name].fn
        cpu0 = host_cpu()
        s = Sample(name, self.module_of(name), time.time(), 0.0, 0.0, False)
        try:
            df = fn(self.spark, sf_dir)
            s.build_s = time.time() - s.start
            got = digest(df)
            s.execute_s = time.time() - s.build_end
            s.cpu_share = host_share(cpu0, host_cpu())
        except Exception as e:  # a failed operation counts in error_rate
            s.build_s = s.build_s or time.time() - s.start
            s.detail = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:200]}"
            return s
        s.ok = got == want
        if not s.ok:
            s.detail = f"digest {got} != pinned {want}"
        return s

    def _land(self) -> Sample:
        from aws_etl_pipeline_spark.operators.etl import run_pipeline
        from aws_etl_pipeline_spark.schemas import TRANSACTIONS_RAW

        self.batches += 1
        csv_path = os.path.join(self.work_dir, f"batch_{self.batches:04d}.csv")
        json_path = os.path.join(self.work_dir, f"json_{self.batches:04d}")
        clean = self.stream.write_batch(csv_path)
        cpu0 = host_cpu()
        s = Sample(LAND, self.module_of(LAND), time.time(), 0.0, 0.0, False)
        try:
            df = self.spark.read.csv(csv_path, header=True, schema=TRANSACTIONS_RAW)
            s.build_s = time.time() - s.start
            run_pipeline(df, json_path=json_path, upsert_target=self.target)
            s.execute_s = time.time() - s.build_end
            s.cpu_share = host_share(cpu0, host_cpu())
        except Exception as e:
            s.build_s = s.build_s or time.time() - s.start
            s.detail = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:200]}"
            return s
        s.rows_landed = clean
        s.bytes_landed = os.path.getsize(csv_path)
        s.bytes_written = dir_bytes(self.target)
        json_rows = self.spark.read.text(json_path).count()  # JSON lines
        shutil.rmtree(json_path)
        tgt = self.spark.read.parquet(self.target).agg(
            F.count(F.lit(1)), F.countDistinct("transaction_id")
        ).first()
        want = len(self.stream.landed_keys)
        s.ok = json_rows == clean and tgt[0] == tgt[1] == want
        if not s.ok:
            s.detail = f"json rows {json_rows} (want {clean}), target {tuple(tgt)} (want {want})"
        return s

    def load_tables(self, sf_dir: str, tables: tuple[str, ...]) -> float:
        """``catalog.load_table`` once per table; returns the seconds spent."""
        from aws_etl_pipeline_spark.catalog import load_table

        t0 = time.time()
        for t in tables:
            load_table(self.spark, sf_dir, t)
        return time.time() - t0
