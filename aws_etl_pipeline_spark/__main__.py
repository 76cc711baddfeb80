"""CLI — the reference's entry points, Spark-native.

Maps 1:1 to how the reference is operated (SURVEY §3):

  generate  — one day of synthetic transactions -> partitioned CSV
              (` s3_uploader.py` main path, R20+R21)
  backfill  — N days of history (R24)
  process   — run the flagship ETL over a directory once, batch mode
              (the lambda_handler body, entry point 1)
  explain   — formatted physical plan of any named query (the
              pushdown/broadcast/codegen evidence, engine-side)
  watch     — same pipeline as a streaming drain of the directory
              (the S3-trigger analog, R19; availableNow); a re-run
              lands only the files added since the last one
  list      — list landed files with sizes (R25)

Usage:
  python -m aws_etl_pipeline_spark generate --rows 75 --date 2024-03-15 --out /tmp/raw
  python -m aws_etl_pipeline_spark process --src /tmp/raw --out /tmp/processed
  python -m aws_etl_pipeline_spark watch --src /tmp/raw --out /tmp/processed
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys


def _date(s: str) -> dt.date:
    return dt.datetime.strptime(s, "%Y-%m-%d").date()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="aws_etl_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="one day of synthetic transactions -> CSV")
    g.add_argument("--rows", type=int, default=50)
    g.add_argument("--date", type=_date, default=None)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--out", required=True)

    b = sub.add_parser("backfill", help="N days of history -> partitioned CSV")
    b.add_argument("--days", type=int, default=30)
    b.add_argument("--end-date", type=_date, default=None)
    b.add_argument("--out", required=True)

    p = sub.add_parser("process", help="flagship ETL over a directory (batch)")
    p.add_argument("--src", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--upsert", default=None, help="parquet MERGE target (R17)")

    w = sub.add_parser("watch", help="streaming drain of the directory (R19)")
    w.add_argument("--src", required=True)
    w.add_argument("--out", required=True)
    w.add_argument("--upsert", default=None)

    ls = sub.add_parser("list", help="list landed files (R25)")
    ls.add_argument("--dir", required=True)

    ex = sub.add_parser(
        "explain", help="formatted physical plan of a named query"
    )
    ex.add_argument("query", help="name from queries() (see COVERAGE.md)")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark(f"cli-{args.cmd}")

    if args.cmd == "generate":
        from .generator import generate_transactions
        from .operators.etl import write_csv

        df = generate_transactions(spark, args.rows, args.date, args.seed)
        write_csv(df, args.out)
        print(f"wrote {args.rows} transactions to {args.out}")

    elif args.cmd == "backfill":
        from .generator import generate_historical
        from .operators.etl import write_csv
        from pyspark.sql import functions as F

        df = generate_historical(spark, args.days, args.end_date)
        df = df.withColumn("year", F.substring("date", 1, 4)).withColumn(
            "month", F.substring("date", 6, 2)
        ).withColumn("day", F.substring("date", 9, 2))
        write_csv(df, args.out, partition_by=("year", "month", "day"))
        print(f"backfilled {args.days} days to {args.out} (year=/month=/day= layout)")

    elif args.cmd == "process":
        import json

        from .operators.etl import run_pipeline
        from .schemas import TRANSACTIONS_RAW

        src = (
            spark.read.schema(TRANSACTIONS_RAW)
            .option("header", True)
            .csv(args.src)
        )
        run_pipeline(src, json_path=args.out, upsert_target=args.upsert)
        # counted inside the JSON write; a count() would parse the batch again
        with open(os.path.join(args.out, "_manifest.json")) as fh:
            n = json.load(fh)["record_count"]
        print(f"processed {n} records: {args.src} -> {args.out}")

    elif args.cmd == "watch":
        from .streaming.ingest import run_pipeline_available_now

        run_pipeline_available_now(
            spark, args.src, json_out=args.out, upsert_path=args.upsert
        )
        print(f"drained pending files: {args.src} -> {args.out}")

    elif args.cmd == "explain":
        from .plans.explain import plan_string
        from .registry import all_queries

        queries = all_queries()
        if args.query not in queries:
            print(f"unknown query {args.query!r}; known: {', '.join(sorted(queries))}")
            return 2
        print(plan_string(queries[args.query].fn(spark, args.sf_dir)))

    elif args.cmd == "list":
        total = 0
        for root, _dirs, files in os.walk(args.dir):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                path = os.path.join(root, f)
                size = os.path.getsize(path)
                total += 1
                print(f"{size:>12}  {os.path.relpath(path, args.dir)}")
        print(f"{total} files")

    return 0


if __name__ == "__main__":
    sys.exit(main())
