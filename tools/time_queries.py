"""Time individual registry queries at an arbitrary SF dir (scale
replicas included) — the measurement tool behind SCALING.md's
10x/100x/1000x slope tables.

Protocol (matches the r9 tables): one warm-up pass of every query at
sf0.001 (JIT + codegen compile), then N timed reps of each at the target
dir (count() sink, cache swept between reps), reporting the MIN of the
warm reps (scale tables want the noise floor, not the median — the
question is "what does the plan cost", and background load only ever
adds). Loadavg is recorded so a loaded run is self-adjudicating.

Usage: python tools/time_queries.py SF_DIR QUERY [QUERY ...]
       SPARK_GRAFT_TIME_REPS=2 (default) controls reps.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
# ^ the session default is local[4]; every measurement must use the
#   full box unless the caller explicitly says otherwise (r10 found
#   a whole day of scale numbers silently taken at 4 cores).

from aws_etl_pipeline_spark.profile import Probe, count_rows, measure, warm  # noqa: E402
from aws_etl_pipeline_spark.registry import all_queries  # noqa: E402
from aws_etl_pipeline_spark.session import get_spark, stop_spark  # noqa: E402

WARMUP_SF = "/root/testdata/sf0.001"
REPS = int(os.environ.get("SPARK_GRAFT_TIME_REPS", "2"))

#: sink=count matches bench.py (cross-round comparable) but lets
#: Catalyst PRUNE computed columns the row count doesn't need — a
#: window/projection query can "finish" without evaluating its window
#: (r10: join_asof "ran" 100M rows in 0.66 s because count() deleted
#: the as-of column). sink=hash folds xxhash64 over every output
#: column into one row, forcing full evaluation; use it for scale
#: tables of projection-shaped queries.
SINK = os.environ.get("SPARK_GRAFT_TIME_SINK", "count")


def _hash_rows(df) -> int:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]
    return row["n"]


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("time_queries")
    probe = Probe(spark)
    sink = _hash_rows if SINK == "hash" else count_rows
    load_start = [round(x, 2) for x in os.getloadavg()]
    warm(spark, queries, names, WARMUP_SF, sink)
    out: dict[str, dict] = {}
    for name in names:
        reps = measure(spark, queries[name].fn, sf_dir, REPS, probe, sink)
        samples = [r.seconds for r in reps]
        n = reps[-1].rows
        out[name] = {
            "min": round(min(samples), 3),
            "all": [round(s, 3) for s in samples],
            "rows": n,
        }
        print(f"# {name}: min {out[name]['min']}s {out[name]['all']} ({n} rows)", flush=True)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "reps": REPS,
                "sink": SINK,
                "loadavg_start": load_start,
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                "queries": out,
            },
            separators=(",", ":"),
        ),
        flush=True,
    )
    stop_spark(spark)


if __name__ == "__main__":
    main()
