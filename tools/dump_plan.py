"""Dump `.explain("formatted")` for queries to plans/<dir>/<query>_<tag>.txt.

Usage: python tools/dump_plan.py OUT_DIR TAG QUERY [QUERY ...]
       e.g. python tools/dump_plan.py plans/ivf before sim_ivf_ann

Runs at sf0.01 (plan shape, not data volume). Expression ids (``#123``),
``plan_id=`` values and RDD ids (``MapPartitionsRDD[350]``) are masked,
so the same plan built by two checkouts writes the same file and a
plain ``diff`` shows only real plan changes.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

from aws_etl_pipeline_spark.cache import clear_persisted  # noqa: E402
from aws_etl_pipeline_spark.plans.explain import plan_string  # noqa: E402
from aws_etl_pipeline_spark.registry import all_queries  # noqa: E402
from aws_etl_pipeline_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

_IDS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def mask_ids(plan: str) -> str:
    """``plan`` with its session-specific ids replaced by ``N``."""
    return _IDS.sub(r"\1N", plan)


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    qs = all_queries()
    spark = get_spark("dump-plan")
    for name in names:
        df = qs[name].fn(spark, SF)
        txt = mask_ids(plan_string(df))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        n_ex = sum(
            1
            for line in txt.splitlines()
            if "Exchange" in line and "ReusedExchange" not in line
        )
        print(f"{path}: {len(txt.splitlines())} lines, {n_ex} Exchange")
        clear_persisted()


if __name__ == "__main__":
    main()
