"""Local mimic of the driver's t2 correctness gate.

Runs each registered query on Spark and its DuckDB oracle twin over the
same parquet tables, then compares row count, column names, and
order-insensitive values (exact for non-floats; floats must agree to
1e-9 relative — queries are expected to round any aggregate so that the
driver's exact value-hash also matches).

Usage:
    python tools/check.py [query ...] [--sf /root/testdata/sf0.01] [-v]
"""

from __future__ import annotations

import argparse
import datetime as _dt
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from aws_etl_pipeline_spark.registry import all_queries  # noqa: E402
from aws_etl_pipeline_spark.schemas import TABLE_NAMES  # noqa: E402
from aws_etl_pipeline_spark.session import get_spark, stop_spark  # noqa: E402

FLOAT_REL_TOL = 1e-9


def _canon(v):
    """Canonicalize one cell for comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "tolist"):  # numpy array / scalar
        return _canon(v.tolist())
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sort_key(row):
    out = []
    for v in row:
        if isinstance(v, float):
            out.append(f"{v:.6e}")
        elif isinstance(v, tuple):
            out.append(str(_sort_key(v)))
        else:
            out.append("" if v is None else str(v))
    return tuple((v is None, s) for v, s in zip(row, out))


def _cells_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            return _cells_equal(float(a), float(b))
        except (TypeError, ValueError):
            return False
    return a == b


def compare(spark_rows, spark_cols, oracle_rows, oracle_cols, verbose=False):
    problems = []
    if sorted(spark_cols) != sorted(oracle_cols):
        problems.append(f"schema: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}")
        return problems
    if len(spark_rows) != len(oracle_rows):
        problems.append(f"rowcount: spark={len(spark_rows)} oracle={len(oracle_rows)}")
        return problems
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    o_order = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])
    s = sorted(
        (tuple(_canon(r[i]) for i in order) for r in spark_rows), key=_sort_key
    )
    o = sorted(
        (tuple(_canon(r[i]) for i in o_order) for r in oracle_rows), key=_sort_key
    )
    n_bad = 0
    exact = True
    for i, (sr, orow) in enumerate(zip(s, o)):
        if sr != orow:
            exact = False
            if not _cells_equal(sr, orow):
                n_bad += 1
                if n_bad <= 3:
                    problems.append(f"row {i}: spark={sr} oracle={orow}")
    if n_bad > 3:
        problems.append(f"... {n_bad} mismatching rows total")
    if not problems and not exact and verbose:
        print("    (values equal within float tolerance but not bit-exact)")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args()

    queries = all_queries()
    names = args.names or sorted(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}; have {sorted(queries)}")

    spark = get_spark("check")
    failed = check_all(
        spark,
        oracle_db(args.sf),
        [(n, queries[n].fn, queries[n].oracle) for n in names],
        args.sf,
        args.verbose,
    )
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    stop_spark(spark)
    sys.exit(1 if failed else 0)


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_all(spark, con, queries, sf_dir: str, verbose: bool = False) -> list[str]:
    """Run each ``(name, fn, oracle_sql)`` on Spark and, where it has an
    oracle, on DuckDB; print one line per query and return the names
    that failed."""
    from aws_etl_pipeline_spark.cache import clear_persisted

    failed = []
    for name, fn, oracle in queries:
        clear_persisted()  # sweep the previous query's pinned blocks
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        t_spark = time.time() - t0
        if oracle is None:
            print(f"ok?   {name}: rows-only ({len(spark_rows)} rows, {t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            cur = con.execute(oracle)
            oracle_cols = [d[0] for d in cur.description]
            oracle_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failed.append(name)
            continue
        t_oracle = time.time() - t0
        problems = compare(spark_rows, spark_cols, oracle_rows, oracle_cols, verbose)
        if problems:
            print(f"FAIL  {name} ({len(spark_rows)} rows):")
            for p in problems:
                print(f"      {p}")
            failed.append(name)
        else:
            print(
                f"PASS  {name} ({len(spark_rows)} rows, spark {t_spark:.1f}s, duckdb {t_oracle:.2f}s)"
            )
    return failed


if __name__ == "__main__":
    main()
