"""Counters read from outside the engine: Spark's status store, a
streaming progress listener, and process memory.

The status store is populated with ``spark.ui.enabled=false``. Jobs are
attributed to an operation by submission time, not by job group: job
groups are thread-local, so the jobs a streaming drain submits from its
own thread carry no group.
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

JOB_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "output_bytes",
)


class StatusStore:
    """Reads finished jobs from the session's in-process status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_status = self._jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        self._next_job = 0

    def skip_existing(self) -> None:
        """Forget every job submitted so far."""
        self.new_jobs(counters=False)

    def new_jobs(self, counters: bool = True) -> list[dict]:
        """Jobs submitted since the last call: ``submitted`` (epoch s) and
        the JOB_COUNTERS, summed over each job's stages that ran."""
        self._bus.waitUntilEmpty()
        out = []
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no more jobs
                return out
            self._next_job += 1
            if counters:
                out.append(self._job(job))

    def _job(self, job) -> dict:
        sub = job.submissionTime()
        rec = dict.fromkeys(JOB_COUNTERS, 0)
        rec["submitted"] = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        rec["jobs"] = 1
        ids = job.stageIds()
        for i in range(ids.size()):
            attempts = self._store.stageData(
                ids.apply(i), False, self._no_status, False, self._no_quantiles
            )
            for sd in (attempts.apply(j) for j in range(attempts.size())):
                if sd.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += sd.numCompleteTasks()
                rec["executor_run_s"] += sd.executorRunTime() / 1e3
                rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                rec["gc_s"] += sd.jvmGcTime() / 1e3
                rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                rec["input_bytes"] += sd.inputBytes()
                rec["output_bytes"] += sd.outputBytes()
        return rec


class StreamStats(StreamingQueryListener):
    """Micro-batch counts from streaming progress events. ``state_rows``
    is the last reported state size of each query, summed over queries."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches = 0
        self.batch_s = 0.0
        self.input_rows = 0
        self._state: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rows = sum(op.numRowsTotal for op in p.stateOperators)
        with self._lock:
            self.batches += 1
            self.batch_s += p.durationMs.get("triggerExecution", 0) / 1e3
            self.input_rows += p.numInputRows
            self._state[str(p.id)] = rows

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "batches": self.batches,
                "batch_s": self.batch_s,
                "input_rows": self.input_rows,
                "state_rows": sum(self._state.values()),
            }


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0
