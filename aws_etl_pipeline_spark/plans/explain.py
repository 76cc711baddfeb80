"""Physical-plan introspection helpers.

The 100 TB design contract is checked against the plans Catalyst
actually emits (tests/test_plans.py): filters must reach the scan,
small dimensions must broadcast, hot paths must stay in whole-stage
codegen, partition layouts must prune. These helpers make those
assertions readable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what df.explain() prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every scan node in the plan."""
    out = []
    for line in plan_string(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            body = line.split(":", 1)[1].strip().strip("[]")
            out.extend(f.strip() for f in body.split(",") if f.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (column pruning)."""
    import re

    cols: list[str] = []
    for line in plan_string(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            cols.extend(re.findall(r"(\w+):", line.split(":", 1)[1]))
    return cols


def python_eval_nodes(df: DataFrame) -> list[str]:
    """Python-evaluation operators in the plan — empty means the whole
    query runs JVM-side."""
    return [
        n
        for n in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")
        if n in plan_string(df)
    ]

