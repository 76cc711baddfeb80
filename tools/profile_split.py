"""Split a query's wall clock into driver-side vs execution segments:
fn() build time (lazy plan construction + any eager fixture staging),
queryExecution optimization time (explain cost), and count() execution.

The bench's per-rep region is fn()+count(); at bench SF the data is
tiny, so a query whose count() segment is dominated by the optimize
segment is paying Catalyst, not the cluster — a different fix
(shrink the expression tree / plan) than a shuffle-bound query.

Per rep it also counts the Spark jobs launched inside fn() (schema
inference, eager staging, collects), the py4j commands Python
sent the JVM inside fn() (object deletes, which py4j sends on garbage
collection, not counted) and the whole-stage-codegen classes compiled
over the rep (the JVM's CodegenMetrics counter; a warm rep of a query
whose classes fit the session's codegen cache compiles 0). One stdout
line per query; the per-rep counts are ``/``-separated.

Usage: python tools/profile_split.py QUERY [QUERY ...]
       SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

from py4j.clientserver import ClientServerConnection  # noqa: E402

from aws_etl_pipeline_spark.cache import clear_persisted  # noqa: E402
from aws_etl_pipeline_spark.registry import all_queries  # noqa: E402
from aws_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "3"))


def main() -> None:
    names = sys.argv[1:]
    sent = [0]  # py4j commands, object deletes not counted
    send = ClientServerConnection.send_command

    def counting_send(self, command):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting_send
    qs = all_queries()
    spark = get_spark("profile-split")
    sc = spark.sparkContext
    next_job = sc._jsc.sc().dagScheduler().nextJobId
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for name in names:
        q = qs[name]
        # warm-up: codegen + fixture staging
        q.fn(spark, SF_DIR).count()
        clear_persisted()
        rows = []
        for _ in range(REPS):
            c0, j0 = compiled.getCount(), next_job()
            t0, p0 = time.time(), sent[0]
            df = q.fn(spark, SF_DIR)
            t1, p1 = time.time(), sent[0]
            j1 = next_job()
            # force analysis+optimization without execution
            _ = df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            j2 = next_job()
            df.count()
            t3 = time.time()
            rows.append((t1 - t0, t2 - t1, t3 - t2, next_job() - j2, j1 - j0,
                         compiled.getCount() - c0, p1 - p0))
            clear_persisted()
        best = min(rows, key=lambda r: r[0] + r[1] + r[2])
        print(
            f"{name}: build={best[0]:.3f}s optimize={best[1]:.3f}s "
            f"execute={best[2]:.3f}s jobs={best[3]} "
            f"fn_jobs={'/'.join(str(r[4]) for r in rows)} "
            f"py4j={'/'.join(str(r[6]) for r in rows)} "
            f"compiles={'/'.join(str(r[5]) for r in rows)}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
