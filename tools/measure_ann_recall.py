"""Measure ANN recall@3 against the exact brute-force baseline.

Reproduces the SCALING.md recall tables: for each ANN query (the
ANN_QUERIES list below — LSH, IVF, the SQ8 and true-PQ quantized
variants with their fp reranks, and the MLlib BRP twin), recall@3 =
|ANN top-3 ∩ exact top-3| / (3 x n_queries), where exact top-3 is
sim_bruteforce_topk (top-5) re-ranked to 3 per query by (cosine desc,
neighbor_id).

Usage: python tools/measure_ann_recall.py [sf_dir ...]
Defaults: /root/testdata/sf0.1. For the 10x point first run
`python tools/build_scale_replica.py 10` and pass the replica dir —
and read the SCALING.md caveat: the replica clones embeddings
verbatim, so its recall is trivially 1.0 (every query's true top-3
are its own clones, which share every bucket by construction).
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_pipeline_spark.registry import all_queries  # noqa: E402
from aws_etl_pipeline_spark.session import get_spark, stop_spark  # noqa: E402

ANN_QUERIES = (
    "sim_lsh_ann",
    "sim_ivf_ann",
    "sim_ivf_sq8",
    "sim_ivf_sq8_rerank",
    "sim_ivf_truepq",
    "sim_ivf_truepq_rerank",
    "sim_brp_lsh_mllib",
)


def exact_top3(spark, qs, sf_dir: str) -> set[tuple[int, int]]:
    rows = qs["sim_bruteforce_topk"].fn(spark, sf_dir).collect()
    per = defaultdict(list)
    for r in rows:
        per[r.query_id].append((-r.cosine, r.neighbor_id))
    return {(q, nid) for q, lst in per.items() for _, nid in sorted(lst)[:3]}


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]
    qs = all_queries()
    spark = get_spark("ann-recall")
    out = {}
    for d in dirs:
        exact = exact_top3(spark, qs, d)
        for ann in ANN_QUERIES:
            got = {
                (r.query_id, r.neighbor_id)
                for r in qs[ann].fn(spark, d).collect()
            }
            out[f"{ann}@{os.path.basename(d.rstrip('/'))}"] = round(
                len(got & exact) / len(exact), 3
            )
    print(json.dumps(out, indent=1))
    stop_spark(spark)


if __name__ == "__main__":
    main()
