"""Table loaders for the driver-provided parquet testdata.

``load_table`` is the single entry point every query goes through; it
applies the one storage quirk in the corpus: ``events.ts`` is stored as
parquet TIMESTAMP(NANOS), which Spark reads (under the
``legacy.parquet.nanosAsLong`` shim) as a raw int64 of nanoseconds. We
truncate ns -> us exactly like DuckDB/Arrow do, yielding a
TIMESTAMP_NTZ that is value-identical to the oracle's view of the same
file. Everything else is a plain columnar parquet scan — filters and
projections placed on top of these DataFrames push down to the scan
(verified in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_engine_confs

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with canonical column types."""
    ensure_engine_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns since epoch -> us (truncating, like Arrow/DuckDB), tz-naive.
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table and spread it across the session's parallelism.

    Small single-file tables arrive as one partition; any compute-heavy
    operator downstream (per-row hashing, pandas UDF batches, pairwise
    scoring) would then run on one core. One explicit round-robin
    shuffle up front buys full parallelism — the same move a 100 TB job
    makes when a stage's input partitioning doesn't match its CPU cost.
    Use for compute-bound operators only; scan-bound queries should
    keep the file partitioning.
    """
    df = load_table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def load_spread_keyed(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """``load_spread``, hash-partitioned on ``key`` instead of
    round-robin (r15, guide §2.4): for compute-heavy pipelines whose
    downstream windows/aggregates key on supersets of ``key``, the
    keyed exchange both spreads the compute AND satisfies those
    clustering requirements, so the exploded/token-scaled
    intermediates they produce never re-exchange. The explicit
    partition count pins the spread (AQE would coalesce a small raw
    table to one partition and single-thread the per-row hashing)."""
    df = load_table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism, key)

