"""Demonstrate dedup_semantic's k-knob claim (SCALING.md / r6 verdict
item 3): SemDeDup's pair space is sum(|cell|^2), and the documented
scale posture is that k grows with the corpus (the paper's ~100k cells
per 100M embeddings) to hold |cell| roughly constant — "a parameter,
not a rewrite". This runs the parameterized pipeline at the 10x
replica with k=8 (cells 10x wider than sf0.1) and k=64 (cells back to
~sf0.1 width), plus the sf0.1 / k=8 reference point, and prints the
medians + the within-cell pair-space size each configuration implies.

Usage: python tools/measure_semdedup_k.py [sf_dir] [replica_dir]
Defaults: /root/testdata/sf0.1  /tmp/spark_graft_sf1_replica
(build the replica first: python tools/build_scale_replica.py 10)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from aws_etl_pipeline_spark.cache import clear_persisted  # noqa: E402
from aws_etl_pipeline_spark.llm.dedup import SEMDEDUP_TAU, semdedup_frame  # noqa: E402
from aws_etl_pipeline_spark.llm.similarity import KMEANS_ITERS  # noqa: E402
from aws_etl_pipeline_spark.session import get_spark, stop_spark  # noqa: E402

REPS = 3


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rep = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_sf1_replica"
    spark = get_spark("semdedup-k")
    for label, d, k in ((f"sf0.1 k=8", sf, 8), ("10x k=8", rep, 8), ("10x k=64", rep, 64)):
        # pair-space size: sum over cells of |cell|^2 (the quantity the
        # knob controls), from the final assignment
        df = semdedup_frame(spark, d, k, KMEANS_ITERS, SEMDEDUP_TAU)
        cells = df.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        pair_space = cells.agg(F.sum(F.col("n") * F.col("n"))).collect()[0][0]
        clear_persisted()
        samples = []
        for _ in range(REPS):
            t0 = time.time()
            n = semdedup_frame(spark, d, k, KMEANS_ITERS, SEMDEDUP_TAU).count()
            samples.append(time.time() - t0)
            clear_persisted()
        samples.sort()
        med = samples[len(samples) // 2]
        print(
            f"{label}: median {med:.2f}s [{samples[0]:.2f}..{samples[-1]:.2f}] "
            f"rows={n} pair_space={pair_space:,}"
        )
    stop_spark(spark)


if __name__ == "__main__":
    main()
