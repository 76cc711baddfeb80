"""Record the driver's class list, or prebuild its class-data-sharing
archive (``aws_etl_pipeline_spark/cds.py``).

    python tools/build_cds.py --build            # prebuild for this JDK + Spark install
    python tools/build_cds.py --record

``--build`` builds the archive that the first ``get_spark`` would
otherwise build, so a deployment image or CI pays it once, outside any
session; it prints the ``cds`` state and exits 1 when there is no
archive. ``--record`` starts a session with
``-XX:DumpLoadedClassList``, runs one ``olap_short`` pass and one
``ingest_upsert`` pass of perfbench's workloads on its sf0.1 tables,
and rewrites the package's ``cds_classes.txt.gz`` with the names CDS
can archive, sorted; a new list changes the archive key.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import re
import shutil
import sys
import tempfile
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: Names CDS never archives: dynamic proxies, reflection accessors and
#: JFR event handlers are generated at run time.
GENERATED = re.compile(r"(^|/)(\$Proxy|Generated\w*Accessor|EventHandler)")
PLAIN = re.compile(r"[\w/$.-]+")
LAMBDA = re.compile(r"@lambda-(proxy|form-invoker \[\w+\]) ([\w/$.-]+)( |$)")


def subject(line: str) -> str | None:
    """The class a kept class-list line names: a class of a built-in
    loader, or the caller of a lambda proxy or lambda-form holder
    (archived from JDK 16 on). None for any other line, such as a class
    of a custom loader (``id:`` lines)."""
    if PLAIN.fullmatch(line):
        return line
    m = LAMBDA.match(line)
    return m and m.group(2).replace(".", "/")


def signed_classes(jars: str) -> set[str]:
    """Classes of the signed jars under ``jars``: CDS skips them."""
    out: set[str] = set()
    for name in sorted(os.listdir(jars)):
        if not name.endswith(".jar"):
            continue
        with zipfile.ZipFile(os.path.join(jars, name)) as z:
            entries = z.namelist()
        if any(re.fullmatch(r"META-INF/[^/]+\.(SF|RSA|DSA|EC)", e) for e in entries):
            out.update(e[: -len(".class")] for e in entries if e.endswith(".class"))
    return out


def archivable(lines, signed: set[str]) -> list[str]:
    """The sorted, distinct lines of a raw class list that CDS can
    archive."""
    out = set()
    for ln in map(str.strip, lines):
        name = subject(ln)
        if name and not GENERATED.search(name) and name not in signed:
            out.add(ln)
    return sorted(out)


def record() -> None:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    run_dir = tempfile.mkdtemp(prefix="build_cds_")
    try:
        from run import isolate, session_conf  # perfbench/run.py

        paths = isolate(run_dir)
        import datagen
        from workloads import WORKLOADS, Runner

        from aws_etl_pipeline_spark import cds
        from aws_etl_pipeline_spark.cache import clear_persisted
        from aws_etl_pipeline_spark.session import get_spark

        raw = os.path.join(run_dir, "classlist")
        sf_dir = datagen.build_tables(os.path.join(ROOT, ".bench_data"), 0.1)
        with open(os.path.join(ROOT, "perfbench", "pins.json")) as fh:
            pins = json.load(fh)["digests"]
        conf = {**session_conf(paths), cds.JAVA_OPTIONS_CONF: f"-XX:DumpLoadedClassList={raw}"}
        spark = get_spark("build-cds", cpus=max(1, os.cpu_count() // 2), extra_conf=conf)
        runner = Runner(spark, paths["work"], seed=0)
        for name in ("olap_short", "ingest_upsert"):
            w = WORKLOADS[name]
            runner.load_tables(sf_dir, w.tables)
            for op in w.ops:
                s = runner.run(op, sf_dir, pins)
                print(f"{name} {op} ok={s.ok} {s.latency_s:.2f} s", file=sys.stderr)
                clear_persisted()
        stop_jvm(spark)
        with open(raw) as fh:
            names = archivable(fh, signed_classes(cds.jars_dir()))
        with open(cds.CLASS_LIST, "wb") as out, gzip.GzipFile(
            filename="", mode="wb", fileobj=out, mtime=0
        ) as gz:
            gz.write("".join(n + "\n" for n in names).encode())
        print(f"{len(names)} lines -> {os.path.relpath(cds.CLASS_LIST, ROOT)}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_jvm(spark) -> None:
    """Stop the session and wait for its JVM to exit, so the class list
    it writes is complete."""
    from pyspark import SparkContext

    from aws_etl_pipeline_spark.session import stop_spark

    stop_spark(spark)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def build() -> int:
    from aws_etl_pipeline_spark import cds

    t0 = time.perf_counter()
    state, detail, archive = cds.ensure()
    print(f"cds {state} {detail} {(time.perf_counter() - t0) * 1e3:.0f} ms {archive or ''}")
    return 0 if archive else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    what = ap.add_mutually_exclusive_group(required=True)
    what.add_argument("--build", action="store_true")
    what.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)
    if args.record:
        record()
        return 0
    return build()


if __name__ == "__main__":
    sys.exit(main())
