"""Pin the output digests the benchmark checks, and cross-check them
against the registry's DuckDB oracle SQL.

    python3 perfbench/pin.py            # prints the report, rewrites pins.json

Each query of every workload runs twice on the generated tables; its
digest must repeat. Queries with an oracle twin also have their
collected rows compared against DuckDB over the same parquet files by
``tools/check.py``'s ``compare`` (order-insensitive; floats to 1e-9
relative), outside any timing.
Exits non-zero if a digest does not repeat or an oracle row differs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import HERE, ROOT, SF, isolate, session_conf


def main() -> int:
    run_dir = os.path.join(ROOT, ".bench_runs", f"pin-{os.getpid()}")
    try:
        paths = isolate(run_dir)
        sys.path.insert(0, HERE)
        return _pin(paths)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _pin(paths) -> int:
    import duckdb

    import datagen
    from tools.check import compare
    from workloads import LAND, WORKLOADS, digest

    from aws_etl_pipeline_spark.cache import clear_persisted
    from aws_etl_pipeline_spark.registry import all_queries
    from aws_etl_pipeline_spark.session import get_spark

    sf_dir = datagen.build_tables(os.path.join(ROOT, ".bench_data"), SF)
    spark = get_spark("perfbench-pin", cpus=os.cpu_count(), extra_conf=session_conf(paths))
    con = duckdb.connect()
    for t in sorted(os.listdir(sf_dir)):
        con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}')")
    queries = all_queries()
    names = sorted({op for w in WORKLOADS.values() for op in w.ops if op != LAND})
    pins, oracle, bad = {}, {}, []
    for name in names:
        q = queries[name]
        got = []
        for _ in range(2):
            clear_persisted()
            got.append(digest(q.fn(spark, sf_dir)))
        pins[name] = got[0]
        status = "rows-only"
        if got[0] != got[1]:
            status = f"digest does not repeat: {got}"
            bad.append(name)
        elif q.oracle is not None:
            clear_persisted()
            df = q.fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            cur = con.execute(q.oracle)
            diff = compare(rows, df.columns, cur.fetchall(), [d[0] for d in cur.description])
            status = f"oracle MISMATCH: {'; '.join(diff)}" if diff else "oracle match"
            oracle[name] = "match" if not diff else "mismatch"
            if diff:
                bad.append(name)
        print(f"{name:32s} rows={got[0][0]:<8d} {status}", flush=True)
    spark.stop()
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump({"tables": os.path.basename(sf_dir), "digests": pins,
                   "oracle": oracle}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(names) - len(bad)}/{len(names)} pinned; {len(oracle)} checked against DuckDB")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
