"""Measure queries: one set of counters and one rep loop.

``bench.py``, ``tools/time_queries.py``, ``tools/profile_split.py`` and
the tests' ``jobs_during``/``py4j_calls_during`` fixtures all measure
through this module.

A ``Probe`` reads three running counters of one session:

* ``jobs``: the DAGScheduler's next job id. A delta counts every job
  submitted in between, from any thread. Counting by job group does
  not: groups are per thread, so the jobs a streaming drain submits
  from its own thread carry none (a warm ``stream_exec_dedup_watermarked``
  at sf0.001 counted 2 jobs by group and 7 by id).
* ``py4j``: the call commands Python sent the JVM. Object deletes
  (``m\\nd\\n``) are not counted: py4j sends them on garbage
  collection, whenever that happens. Nor are the probe's own reads.
* ``compiles``: whole-stage-codegen classes compiled, from the JVM's
  ``CodegenMetrics``.

``measure`` runs one query's reps: ``fn()`` (build), an optional forced
physical plan (optimize) and a sink (execute), each timed alone, with
the counters read between the timers and the tracked cache swept after
each rep.
"""

from __future__ import annotations

import sys
import threading
import time
from dataclasses import dataclass
from typing import Callable

from py4j.clientserver import ClientServerConnection

from .cache import clear_persisted

# py4j sends every command through one class method, so the count is
# per process: the first probe wraps it, every probe reads ``_sent``.
_lock = threading.Lock()
_sent = 0  # py4j call commands sent since the wrap
_send = None


def _count_commands() -> None:
    global _send
    with _lock:
        if _send is not None:
            return
        _send = ClientServerConnection.send_command

    def counting(self, command):
        global _sent
        if not command.startswith("m\nd\n"):
            with _lock:
                _sent += 1
        return _send(self, command)

    ClientServerConnection.send_command = counting


@dataclass(frozen=True)
class Counts:
    jobs: int
    py4j: int
    compiles: int

    def __add__(self, other: Counts) -> Counts:
        return Counts(self.jobs + other.jobs, self.py4j + other.py4j,
                      self.compiles + other.compiles)

    def __sub__(self, other: Counts) -> Counts:
        return Counts(self.jobs - other.jobs, self.py4j - other.py4j,
                      self.compiles - other.compiles)


class Probe:
    """The three counters of one session; subtract two reads."""

    def __init__(self, spark):
        _count_commands()
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        self._own = 0  # commands sent by read() itself

    def read(self) -> Counts:
        before = _sent
        jobs, compiles = self._dag.numTotalJobs(), self._compiled.getCount()
        self._own += _sent - before
        return Counts(jobs, _sent - self._own, compiles)

    def during(self, fn: Callable[[], object]) -> Counts:
        """What ``fn()`` cost."""
        c0 = self.read()
        fn()
        return self.read() - c0


@dataclass(frozen=True)
class Rep:
    rows: int
    build_s: float
    optimize_s: float
    execute_s: float
    built: Counts  # inside fn()
    ran: Counts  # over the optimize and the sink

    @property
    def seconds(self) -> float:
        return self.build_s + self.optimize_s + self.execute_s


def count_rows(df) -> int:
    return df.count()


def warm(spark, queries, names, sf_dir: str, sink=count_rows) -> float:
    """One best-effort pass of each query at ``sf_dir`` (JIT, codegen,
    fixture staging), after a small job that starts the JVM's shuffle
    machinery. Returns the wall seconds of the whole pass."""
    t0 = time.time()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in names:
        try:
            sink(queries[name].fn(spark, sf_dir))
            clear_persisted()
        except Exception as e:
            print(f"# warmup {name} failed: {e}", file=sys.stderr)
    return time.time() - t0


def measure(spark, fn, sf_dir: str, reps: int, probe: Probe, sink=count_rows,
            optimize: bool = False) -> list[Rep]:
    """``reps`` timed runs of ``sink(fn(spark, sf_dir))``. With
    ``optimize`` the physical plan is built between ``fn`` and the sink
    and timed alone; otherwise the timed region is exactly ``fn`` plus
    the sink."""
    out = []
    for _ in range(reps):
        c0 = probe.read()
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        c1 = probe.read()
        optimize_s = 0.0
        if optimize:
            t2 = time.time()
            df._jdf.queryExecution().executedPlan()
            optimize_s = time.time() - t2
        t3 = time.time()
        rows = sink(df)
        t4 = time.time()
        c2 = probe.read()
        out.append(Rep(rows, t1 - t0, optimize_s, t4 - t3, c1 - c0, c2 - c1))
        # each rep re-builds (and re-persists) its intermediates; sweep
        # them so cached blocks do not pile up across reps
        clear_persisted()
    return out
