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

Schema inference launches one Spark job per read, 95–150 ms on
``local[2]``, against 17–29 ms for the same read with a known schema.
So ``load_table`` infers each table once and keeps the invariant:

- ``_SCHEMAS`` maps the absolute table path to ``(files key, schema)``,
  one entry per path, so it never outgrows the set of distinct tables.
  The files key is ``staging.files_key`` of the table (``(relpath,
  mtime_ns, size)`` of its file or of every file under its directory),
  the rule the stage fingerprint uses, so a table rewritten in place
  misses and is inferred again.
- A miss reads with inference, after ``ensure_engine_confs`` has set
  the confs that shape the inferred schema (``nanosAsLong``); a hit
  reads with the stored schema and launches no job.
- Only the schema is memoized, never the DataFrame: each call must
  return fresh attribute ids, or a self-join of two loads of one table
  inside a query is ambiguous.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import staging
from .session import ensure_engine_confs

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with canonical column types."""
    ensure_engine_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):  # remote or missing: Spark resolves it
        df = spark.read.parquet(path)
    else:
        path = os.path.abspath(path)
        key = staging.files_key(path, os.path.dirname(path))
        memo = _SCHEMAS.get(path)
        if memo and memo[0] == key:
            df = spark.read.schema(memo[1]).parquet(path)
        else:
            df = spark.read.parquet(path)
            _SCHEMAS[path] = (key, df.schema)
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

