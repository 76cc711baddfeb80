"""Benchmark of the spark-graft engine: one workload, one closed-loop client.

    python3 perfbench/run.py --workload olap_short --seed 1 --seconds 18 --trace 0

A run sets up (table generation on first use, session start, untimed
warm-up passes), then runs whole passes over the workload's operations,
each in an order drawn from ``--seed``, for ``--seconds`` on average.
Timings are net of the CPU time the host stole. Every output is checked. The last stdout line
is one JSON object; ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones and writes the spans to
``.bench_traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

# setup_s is timed from process start, and netted of steal over that span.
T_START = time.time()

from hostcpu import host_cpu, host_share  # noqa: E402

CPU_START = host_cpu()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.1


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temporary path the engine, Spark and the Python workers
    use at a fresh per-run directory, and let the workers import the
    engine. Must run before pyspark is imported."""
    paths = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "work", "warehouse")}
    for p in paths.values():
        os.makedirs(p)
    os.environ["TMPDIR"] = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return paths


def session_conf(paths: dict[str, str]) -> dict[str, str]:
    """Session settings that keep the JVM's temp files and the SQL
    warehouse inside the run directory."""
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths['tmp']}",
        "spark.sql.warehouse.dir": paths["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


class Pass:
    def __init__(self, traced: bool):
        self.traced = traced
        self.samples = []
        self.load_s = 0.0
        self.clear_s = 0.0
        self.cleared = 0
        self.cpu_share = 1.0  # host_share() over the whole pass
        self.wall_s = 0.0
        self.layer: dict[str, float] = {}

    @property
    def engine_s(self) -> float:
        """Time inside engine calls: load_table sweep, operations and
        cache clears (output checks and trace reads excluded)."""
        return self.load_s + self.clear_s + sum(s.latency_s for s in self.samples)

    @property
    def net_s(self) -> float:
        """``engine_s`` with the time the host stole taken out."""
        return self.engine_s * self.cpu_share


class Bench:
    def __init__(self, args, paths: dict[str, str]):
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        self.args, self.paths = args, paths
        self.workload = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.spans: list[dict] = []
        self.store = self.streams = None

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        import datagen
        from workloads import Runner

        from aws_etl_pipeline_spark.session import get_spark

        with open(os.path.join(HERE, "pins.json")) as fh:
            self.pins = json.load(fh)["digests"]
        t0 = time.time()
        self.sf_dir = datagen.build_tables(os.path.join(ROOT, ".bench_data"), SF)
        self.datagen_s = time.time() - t0  # the benchmark's own work
        t0 = time.time()
        # Half the vCPUs: the host takes CPU time from busy vCPUs in
        # bursts, and a stage with a task on every vCPU waits for the one
        # it stalls. With spare vCPUs the kernel moves the work, and the
        # run is stolen from less (see README.md, Cores).
        cpus = max(1, os.cpu_count() // 2)
        self.spark = get_spark("perfbench", cpus=cpus,
                               extra_conf=session_conf(self.paths))
        self.session_start_s = time.time() - t0
        self.cores = self.spark.sparkContext.defaultParallelism
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.runner = Runner(self.spark, self.paths["work"], self.args.seed)
        if self.args.trace:
            from sparkstats import StatusStore, StreamStats

            self.store = StatusStore(self.spark)
            self.streams = StreamStats()
            self.spark.streams.addListener(self.streams)
        t0 = time.time()
        for _ in range(self.workload.warmup):
            self.one_pass(traced=False)
        self.runner.freeze_base()
        self.warmup_s = time.time() - t0

    # ------------------------------------------------------------ passes
    def one_pass(self, traced: bool) -> Pass:
        from aws_etl_pipeline_spark.cache import clear_persisted

        p = Pass(traced)
        cpu0, wall0 = host_cpu(), time.time()
        self.runner.reset()
        ops = list(self.workload.ops)
        self.rng.shuffle(ops)
        if traced:
            self.store.skip_existing()
            before = self.streams.snapshot()
            pass_span = self._span("pass", None, time.time())
        t0 = time.time()
        p.load_s = self.runner.load_tables(self.sf_dir, self.workload.tables)
        if traced:
            self._attribute_load(p, t0, t0 + p.load_s, pass_span)
        for op in ops:
            s = self.runner.run(op, self.sf_dir, self.pins)
            self.attempted += 1
            if not s.ok:
                self.failed += 1
                self.failures.append(f"{op}: {s.detail}")
            p.samples.append(s)
            if traced:
                self._attribute_op(p, s, pass_span)
            t0 = time.time()
            p.cleared += clear_persisted()
            p.clear_s += time.time() - t0
            if traced:
                self._span("cache.clear_persisted", pass_span, t0, time.time())
        if traced:
            pass_span["end"] = time.time()
            after = self.streams.snapshot()
            for k, v in after.items():
                p.layer[f"streaming.{k}"] = v - before[k]
        p.cpu_share, p.wall_s = host_share(cpu0, host_cpu()), time.time() - wall0
        return p

    def measure(self) -> list[Pass]:
        """Whole passes, started while at least half of the last pass's
        time is left of ``--seconds``, so that the passes take
        ``--seconds`` on average. A trace run orders its passes untraced,
        traced, traced, untraced (and repeats), at least once through, so
        that a linear warm-up drift cancels out of the tracing overhead."""
        deadline = time.time() + self.args.seconds
        passes: list[Pass] = []
        least = 4 if self.args.trace else 1
        while len(passes) < least or time.time() + passes[-1].wall_s / 2 < deadline:
            traced = bool(self.args.trace) and len(passes) % 4 in (1, 2)
            passes.append(self.one_pass(traced))
        return passes

    # ------------------------------------------------------------ tracing
    def _span(self, name, parent, start, end=None, **attrs) -> dict:
        span = {"id": len(self.spans), "name": name,
                "parent": None if parent is None else parent["id"],
                "start": start, "end": end, **attrs}
        self.spans.append(span)
        return span

    def _jobs_in(self, start: float, end: float, build_end: float | None = None):
        """New jobs submitted in [start, end]; with ``build_end``, split
        into (build, execute) lists."""
        slack = 0.005
        jobs = [j for j in self.store.new_jobs() if start - slack <= j["submitted"] <= end + slack]
        if build_end is None:
            return jobs
        return ([j for j in jobs if j["submitted"] < build_end],
                [j for j in jobs if j["submitted"] >= build_end])

    @staticmethod
    def _sum(jobs) -> dict:
        from sparkstats import JOB_COUNTERS

        return {k: sum(j[k] for j in jobs) for k in JOB_COUNTERS}

    def _add(self, p: Pass, prefix: str, counters: dict) -> None:
        for k, v in counters.items():
            p.layer[f"{prefix}{k}"] = p.layer.get(f"{prefix}{k}", 0) + v

    def _attribute_load(self, p: Pass, start: float, end: float, parent) -> None:
        c = self._sum(self._jobs_in(start, end))
        self._span("catalog.load_table", parent, start, end,
                   tables=list(self.workload.tables), **c)
        p.layer["catalog.load_table_jobs"] = c["jobs"]
        self._add(p, "spark.", c)

    def _attribute_op(self, p: Pass, s, parent) -> None:
        from workloads import LAND

        build, execute = self._jobs_in(s.start, s.end, s.build_end)
        cb, ce, both = self._sum(build), self._sum(execute), self._sum(build + execute)
        layer = "operators.etl.run_pipeline" if s.op == LAND else f"registry.{s.op}"
        span = self._span(layer, parent, s.start, s.end, module=s.module, ok=s.ok, **both)
        self._span("build", span, s.start, s.build_end, **cb)
        self._span("execute", span, s.build_end, s.end, **ce)
        self._add(p, "spark.", both)
        if s.op != LAND:
            self._add(p, "registry.", {"build_s": s.build_s, "execute_s": s.execute_s,
                                       "build_jobs": cb["jobs"]})

    # ------------------------------------------------------------ metrics
    def end_to_end(self, passes: list[Pass]) -> dict:
        # The host stops this machine's vCPUs for bursts of seconds to
        # minutes, and a pass it hits runs up to 60% slower. Every timing
        # is therefore net of steal: wall time times the share of the
        # vCPU time the machine had work for that the host ran.
        plain = [p for p in passes if not p.traced]
        by_op: dict[str, list] = {}
        for p in plain:
            for s in p.samples:
                by_op.setdefault(s.op, []).append(s)
        per_op = {op: statistics.median(s.net_s for s in ss) for op, ss in by_op.items()}
        slowest = max(per_op, key=per_op.get)
        print(f"setup took {self.setup_wall_s:.2f} s at host share {self.setup_share:.3f}; "
              f"{len(plain)} passes took " + ", ".join(f"{p.engine_s:.2f}" for p in plain)
              + " s at host share " + ", ".join(f"{p.cpu_share:.3f}" for p in plain)
              + f"; op_p50_s is over {sum(map(len, by_op.values()))} operation samples; "
              f"op_tail_s is the median of the slowest operation, {slowest}, "
              f"over {len(by_op[slowest])} samples")
        return {
            "setup_s": (self.setup_wall_s * self.setup_share, "s"),
            "pass_s": (statistics.median(p.net_s for p in plain), "s"),
            "op_p50_s": (statistics.median(s.net_s for ss in by_op.values() for s in ss), "s"),
            "op_tail_s": (per_op[slowest], "s"),
        }

    def per_layer(self, passes: list[Pass], leftover_bytes: int) -> dict:
        from sparkstats import JOB_COUNTERS
        from workloads import LAND, WORKLOADS

        traced = [p for p in passes if p.traced]
        plain = [p for p in passes if not p.traced]
        n = len(traced)
        out: dict[str, tuple[float, str]] = {}

        def per_pass(name, unit, fn):
            out[name] = (sum(fn(p) for p in traced) / n, unit)

        per_pass("catalog.load_table_s", "s", lambda p: p.load_s)
        per_pass("catalog.load_table_jobs", "count", lambda p: p.layer.get("catalog.load_table_jobs", 0))
        for k, unit in (("build_s", "s"), ("build_jobs", "count"), ("execute_s", "s")):
            per_pass(f"registry.{k}", unit, lambda p, k=k: p.layer.get(f"registry.{k}", 0))
        for k in JOB_COUNTERS:
            unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
            per_pass(f"spark.{k}", unit, lambda p, k=k: p.layer.get(f"spark.{k}", 0))
        per_pass("spark.core_busy_ratio", "ratio", lambda p: p.layer.get("spark.executor_run_s", 0)
                 / (self.cores * sum(s.latency_s for s in p.samples) + 1e-9))
        lands = [s for p in traced for s in p.samples if s.op == LAND]
        per_pass("operators.upsert.bytes_written", "bytes",
                 lambda p: sum(s.bytes_written for s in p.samples if s.op == LAND))
        landed = sum(s.bytes_landed for s in lands)
        out["operators.upsert.write_amp"] = (
            sum(s.bytes_written for s in lands) / landed if landed else 0.0, "ratio")
        for k, unit in (("batches", "count"), ("batch_s", "s"), ("input_rows", "count"),
                        ("state_rows", "count")):
            per_pass(f"streaming.{k}", unit, lambda p, k=k: p.layer.get(f"streaming.{k}", 0))
        per_pass("cache.cleared", "count", lambda p: p.cleared)
        per_pass("cache.clear_s", "s", lambda p: p.clear_s)
        all_ops = sorted({op for w in WORKLOADS.values() for op in w.ops})
        for mod in sorted({self.runner.module_of(op) for op in all_ops}):
            per_pass(f"{mod}.s", "s", lambda p, m=mod: sum(
                s.latency_s for s in p.samples if s.module == m))
        for op in all_ops:
            xs = [s.latency_s for p in traced for s in p.samples if s.op == op]
            out[f"q.{op}.s"] = (statistics.median(xs) if xs else 0.0, "s")
        ok_lands = [s for p in passes for s in p.samples if s.op == LAND and s.ok]
        out["ingest_rows_per_s"] = (
            sum(s.rows_landed for s in ok_lands) / sum(s.latency_s for s in ok_lands)
            if ok_lands else 0.0, "rows/s")
        out["error_rate"] = (self.failed / self.attempted, "ratio")
        out["session.start_s"] = (self.session_start_s, "s")
        out["session.warmup_s"] = (self.warmup_s, "s")
        out["peak_rss_mb"] = (self.peak_rss_mb, "MB")
        out["tmp.leftover_bytes"] = (leftover_bytes, "bytes")
        out["trace.overhead_s"] = (
            statistics.mean(p.engine_s for p in traced)
            - statistics.mean(p.engine_s for p in plain), "s")
        return out

    # ------------------------------------------------------------ run
    def run(self) -> dict:
        from sparkstats import peak_rss_mb
        from workloads import dir_bytes

        self.setup()
        self.setup_wall_s = time.time() - T_START - self.datagen_s
        self.setup_share = host_share(CPU_START, host_cpu())
        passes = self.measure()
        e2e = self.end_to_end(passes)
        self.peak_rss_mb = peak_rss_mb((os.getpid(), self.jvm_pid))
        self.stop()
        leftover = dir_bytes(self.paths["tmp"]) + dir_bytes(self.paths["local"])
        if self.args.trace:
            metrics = self.per_layer(passes, leftover)
            self.write_trace()
        else:
            metrics = e2e
        for f in self.failures[:20]:
            print(f"FAILED {f}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def write_trace(self) -> None:
        out_dir = os.path.join(ROOT, ".bench_traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "spans": self.spans}, fh)
        print(f"trace: {len(self.spans)} spans written to {os.path.relpath(path, ROOT)}")

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for it to exit."""
        from pyspark import SparkContext

        if self.streams is not None:
            self.spark.streams.removeListener(self.streams)
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aws_etl_pipeline_spark")):
        print("perfbench: the engine package is not next to perfbench/", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".bench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        paths = isolate(run_dir)
        sys.path.insert(0, HERE)
        result = Bench(args, paths).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
