"""Split a query's wall clock into driver-side vs execution segments:
fn() build time (lazy plan construction + any eager fixture staging),
queryExecution optimization time (explain cost), and count() execution.

The bench's per-rep region is fn()+count(); at bench SF the data is
tiny, so a query whose count() segment is dominated by the optimize
segment is paying Catalyst, not the cluster — a different fix
(shrink the expression tree / plan) than a shuffle-bound query.

The loop and the counters are ``aws_etl_pipeline_spark/profile.py``'s.
Per rep it prints the Spark jobs launched inside fn() (schema
inference, eager staging, collects), the py4j commands Python sent the
JVM inside fn() (object deletes not counted) and the whole-stage-codegen
classes compiled over the rep (a warm rep of a query whose classes fit
the session's codegen cache compiles 0); ``jobs=`` counts the best
rep's jobs after fn(). One stdout line per query; the per-rep counts
are ``/``-separated.

Usage: python tools/profile_split.py QUERY [QUERY ...]
       SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

from aws_etl_pipeline_spark.profile import Probe, measure, warm  # noqa: E402
from aws_etl_pipeline_spark.registry import all_queries  # noqa: E402
from aws_etl_pipeline_spark.session import get_spark, stop_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "3"))


def main() -> None:
    names = sys.argv[1:]
    qs = all_queries()
    spark = get_spark("profile-split")
    probe = Probe(spark)
    warm(spark, qs, names, SF_DIR)  # codegen + fixture staging
    for name in names:
        reps = measure(spark, qs[name].fn, SF_DIR, REPS, probe, optimize=True)
        best = min(reps, key=lambda r: r.seconds)
        print(
            f"{name}: build={best.build_s:.3f}s optimize={best.optimize_s:.3f}s "
            f"execute={best.execute_s:.3f}s jobs={best.ran.jobs} "
            f"fn_jobs={'/'.join(str(r.built.jobs) for r in reps)} "
            f"py4j={'/'.join(str(r.built.py4j) for r in reps)} "
            f"compiles={'/'.join(str((r.built + r.ran).compiles) for r in reps)}"
        )
    stop_spark(spark)


if __name__ == "__main__":
    main()
