"""Unit tests for the flagship ETL transform — the semantics the
DuckDB oracle can't see: coerce-cast behavior, soft columns, null
branches, and the documented pandas divergence (SURVEY §2A R14)."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row, functions as F, types as T

from aws_etl_pipeline_spark.operators.etl import (
    amount_category_expr,
    transform_transactions,
)
from aws_etl_pipeline_spark.schemas import TRANSACTIONS_RAW


def make_txn(spark, rows):
    defaults = dict(
        transaction_id="TXN_1",
        date="2024-03-15",
        timestamp="2024-03-15 10:00:00",
        amount=50.0,
        category="food",
        description=" groceries ",
        transaction_type="expense",
        account="checking",
        location="new york",
    )
    data = [Row(**{**defaults, **r}) for r in rows]
    # all-nullable copy: fixtures deliberately violate the id contract
    # to exercise the R3 drop filter
    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in TRANSACTIONS_RAW])
    return spark.createDataFrame(data, schema=schema)


def test_drop_null_required(spark):
    # R3: rows missing transaction_id or amount are dropped
    df = make_txn(
        spark,
        [{}, {"transaction_id": None}, {"amount": None}, {"amount": -3.0}],
    )
    out = transform_transactions(df)
    assert out.count() == 2


def test_cast_coerce_null_on_error(spark):
    # R4-R6: unparseable values coerce to null, row is kept (ANSI off)
    df = make_txn(spark, [{"date": "not-a-date", "timestamp": "garbage"}])
    row = transform_transactions(df).first()
    assert row.date is None
    assert row.timestamp is None
    # date-derived columns null out too
    assert row.day_of_week is None and row.month is None and row.year is None


def test_bucketize_thresholds(spark):
    # R9 boundaries: null->unknown, |x|<25 small, <100 medium, <500 large
    cases = [
        (None, "unknown"),
        (0.0, "small"),
        (-24.99, "small"),
        (25.0, "medium"),
        (-99.99, "medium"),
        (100.0, "large"),
        (-499.99, "large"),
        (500.0, "very_large"),
        (-5000.0, "very_large"),
    ]
    df = spark.createDataFrame([(a,) for a, _ in cases], "amount double")
    got = [
        r.cat
        for r in df.select(amount_category_expr(F.col("amount")).alias("cat")).collect()
    ]
    assert got == [want for _, want in cases]


def test_soft_columns_degrade(spark):
    # Missing optional columns are skipped, like `if col in df.columns`
    df = spark.createDataFrame(
        [("T1", 10.0)], "transaction_id string, amount double"
    )
    out = transform_transactions(df)
    assert out.count() == 1
    assert "amount_category" in out.columns
    assert "day_of_week" not in out.columns  # no date column -> no date parts


def test_text_clean_null_preserved(spark):
    # Documented divergence from the reference: pandas astype(str) turns
    # NaN into the literal 'Nan'; the engine keeps null (SURVEY §2A R14).
    df = make_txn(spark, [{"description": None, "location": "  los angeles  "}])
    row = transform_transactions(df).first()
    assert row.description is None
    assert row.location == "Los Angeles"


def test_processed_metadata(spark):
    df = make_txn(spark, [{}])
    row = transform_transactions(df).first()
    assert row.processed_by == "lambda-etl-pipeline"
    assert isinstance(row.processed_timestamp, dt.datetime)
    # R10/R11/R12/R13 derivations
    assert row.amount_abs == 50.0
    assert row.day_of_week == "Friday"
    assert (row.month, row.year) == (3, 2024)


def test_partitioned_sink_reference_layout(spark, tmp_path):
    """R21: the partitioned CSV sink reproduces the reference's
    Hive-style key layout {folder}/year=YYYY/month=M/day=D/...
    (` s3_uploader.py:113-118`), which Spark then prunes on read."""
    import os

    from aws_etl_pipeline_spark.generator import generate_transactions
    from aws_etl_pipeline_spark.operators.etl import transform_transactions, write_csv

    import datetime as dt

    df = generate_transactions(spark, 30, date=dt.date(2024, 3, 15), seed=5)
    out = transform_transactions(df)
    dest = str(tmp_path / "raw-data")
    write_csv(out.drop("processed_timestamp"), dest, partition_by=("year", "month"))
    # Hive directory structure exists
    assert os.path.isdir(os.path.join(dest, "year=2024", "month=3"))
    back = spark.read.option("header", True).csv(dest)
    assert back.count() == 30
    assert {"year", "month"} <= set(back.columns)


def test_csv_permissive_quarantines_all_garbage(spark, sf_dir):
    """All three injected malformed lines land in the corrupt-record
    quarantine, none leak into the good set (cache() works around the
    corrupt-column-only query restriction)."""
    from pyspark.sql import functions as F

    from aws_etl_pipeline_spark import staging
    from aws_etl_pipeline_spark.sources.scans import (
        _permissive_customer_schema,
        scan_csv_permissive,
    )

    scan_csv_permissive(spark, sf_dir)  # materializes the fixture
    out = staging.location("csv_permissive", sf_dir)
    schema = _permissive_customer_schema()
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        .cache()
    )
    try:
        n_corrupt = df.filter(F.col("_corrupt_record").isNotNull()).count()
        n_good = df.filter(F.col("_corrupt_record").isNull()).count()
        from aws_etl_pipeline_spark.catalog import load_table

        assert n_corrupt == 3
        assert n_good == load_table(spark, sf_dir, "customer").count()
    finally:
        df.unpersist()


def test_manifest_sidecar(spark, tmp_path):
    # R16: the reference attaches object metadata on every S3 put
    # (`lambda_function.py:293-298`); the engine writes the same fields
    # as a _manifest.json sidecar in the sink directory.
    import json

    from aws_etl_pipeline_spark.operators.etl import write_json

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    path = str(tmp_path / "out")
    write_json(df, path, source_file="raw-data/batch1.csv")
    with open(path + "/_manifest.json") as fh:
        m = json.load(fh)
    assert m["record_count"] == 2
    assert m["original_file"] == "raw-data/batch1.csv"
    assert m["processing_stage"] == "transformed"
    assert "processed_timestamp" in m
    # the data itself round-trips
    assert spark.read.json(path).count() == 2


def test_pandas_nan_compat_flag(spark):
    # R14 bug-compat: the reference's astype(str).str.title() renders a
    # missing text field as the literal 'Nan' (`lambda_function.py:139-143`).
    # Default keeps NULL (sane); the flag reproduces the reference byte
    # for byte for migration diffing.
    from aws_etl_pipeline_spark.operators.etl import transform_transactions

    df = spark.createDataFrame(
        [("T1", 5.0, None), ("T2", 6.0, "  shop a  ")],
        "transaction_id string, amount double, description string",
    )
    default = {
        r.transaction_id: r.description
        for r in transform_transactions(df, stamp_processing_time=False).collect()
    }
    assert default["T1"] is None
    assert default["T2"] == "Shop A"
    compat = {
        r.transaction_id: r.description
        for r in transform_transactions(
            df, stamp_processing_time=False, pandas_nan_compat=True
        ).collect()
    }
    assert compat["T1"] == "Nan"
    assert compat["T2"] == "Shop A"


def test_dense_surrogate_ids_no_global_window(spark, sf_dir):
    """Dense 1..N in key order WITHOUT funneling the table through one
    partition: ids are gapless, order-consistent, and the plan's only
    SinglePartition exchange carries the tiny bucket-count relation."""
    import re as _re

    from aws_etl_pipeline_spark.operators.etl import etl_dense_surrogate_ids
    from aws_etl_pipeline_spark.plans.explain import plan_string

    df = etl_dense_surrogate_ids(spark, sf_dir)
    rows = sorted(df.collect(), key=lambda r: r.o_orderkey)
    assert [r.surrogate_id for r in rows] == list(range(1, len(rows) + 1))
    plan = plan_string(df)
    # the per-row window must partition by bucket; a SinglePartition
    # exchange is allowed only on the bucket-offsets subplan (which
    # carries 'cnt'), never on the orders rows
    for m in _re.finditer(r"Exchange SinglePartition", plan):
        ctx = plan[m.start() : m.start() + 400]
        assert "cnt" in ctx or "offset" in ctx, ctx


def test_weighted_median_crossing_definition(spark, sf_dir):
    from aws_etl_pipeline_spark.catalog import load_table
    from aws_etl_pipeline_spark.operators.relational import agg_weighted_median
    from pyspark.sql import functions as F

    got = {r.o_orderpriority: r for r in agg_weighted_median(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderkey") % 5 + 1).cast("long").alias("wt"),
    )
    local = {}
    for r in orders.collect():
        local.setdefault(r.o_orderpriority, []).append((r.v, r.wt))
    for prio, pairs in local.items():
        pairs.sort()
        total = sum(w for _, w in pairs)
        cum = 0
        for v, w in pairs:
            cum += w
            if 2 * cum >= total:
                assert abs(got[prio].weighted_median - round(v, 4)) < 1e-9
                assert got[prio].total_wt == total
                break


def test_run_pipeline_stamps_one_timestamp_for_both_sinks(spark, tmp_path):
    # R7: one landing writes one processed_timestamp to the JSON sink
    # and the upsert target, like the reference's single datetime.now()
    from aws_etl_pipeline_spark.generator import generate_transactions
    from aws_etl_pipeline_spark.operators.etl import run_pipeline

    json_path, target = str(tmp_path / "json"), str(tmp_path / "target")
    run_pipeline(generate_transactions(spark, 50, seed=1), upsert_target=target)
    run_pipeline(
        generate_transactions(spark, 80, seed=2), json_path=json_path, upsert_target=target
    )
    tgt = spark.read.parquet(target)
    js = spark.read.schema(tgt.schema).json(json_path)
    pairs = js.alias("j").join(tgt.alias("t"), "transaction_id").select(
        F.col("j.processed_timestamp").alias("j"), F.col("t.processed_timestamp").alias("t")
    ).collect()
    assert len(pairs) == js.count() > 0
    assert all(r.j == r.t for r in pairs)
    assert len({r.j for r in pairs}) == 1


@pytest.mark.parametrize("sink", ["write_json", "write_csv", "write_parquet"])
def test_sink_counts_the_rows_it_wrote_in_the_write_job(spark, tmp_path, sink, jobs_during):
    import json

    from aws_etl_pipeline_spark.operators import etl

    fmt = sink.split("_")[1]
    df = spark.range(1000).filter(F.col("id") % 7 != 0).withColumn("k", F.col("id") % 3)
    for part in ((), ("k",)):
        w = df.write.mode("overwrite").partitionBy(*part).format(fmt)
        plain = jobs_during(lambda: w.save(str(tmp_path / "plain")))
        path = str(tmp_path / f"out{len(part)}")
        assert jobs_during(lambda: getattr(etl, sink)(df, path, partition_by=part)) == plain
        with open(os.path.join(path, "_manifest.json")) as fh:
            count = json.load(fh)["record_count"]
        back = spark.read.format(fmt).option("header", True).load(path)
        assert count == back.count() == 857
    empty = str(tmp_path / "empty")
    getattr(etl, sink)(df.limit(0), empty)
    with open(os.path.join(empty, "_manifest.json")) as fh:
        assert json.load(fh)["record_count"] == 0


def test_transform_builds_in_one_projection(spark, py4j_calls_during):
    """The transform is two selectExprs over the filter: at most 80 py4j
    commands to build (a withColumn per step took 254), and the plan
    holds two Project nodes, the casts and the derived columns."""
    df = spark.createDataFrame([], TRANSACTIONS_RAW)
    built = []
    assert py4j_calls_during(lambda: built.append(transform_transactions(df))) <= 80
    assert built[0]._jdf.queryExecution().analyzed().toString().count("Project") == 2


def test_transform_keeps_column_order_and_replaces_in_place(spark):
    """Cast and cleaned columns keep their position, derived columns
    are appended in step order, and an existing derived column
    (``processed_timestamp``, ``month``) is replaced where it stands."""
    df = make_txn(spark, [{}]).withColumn("month", F.lit("stale")).withColumn(
        "processed_timestamp", F.lit("stale")
    )
    out = transform_transactions(df)
    assert out.columns == [
        "transaction_id", "date", "timestamp", "amount", "category", "description",
        "transaction_type", "account", "location", "month", "processed_timestamp",
        "processed_by", "amount_category", "amount_abs", "day_of_week", "year",
    ]
    row = out.first()
    assert row.month == 3 and isinstance(row.processed_timestamp, dt.datetime)
    assert dict(out.dtypes)["amount"] == "double" and dict(out.dtypes)["date"] == "date"


def test_run_pipeline_into_a_marked_target_launches_at_most_3_jobs(
    spark, tmp_path, jobs_during
):
    """A landing into an existing target: the broadcast of the batch's
    keys, the target write and the JSON write. The marker schema comes
    from the written frame, so no job reads the new generation back."""
    from aws_etl_pipeline_spark.generator import generate_transactions
    from aws_etl_pipeline_spark.operators.etl import run_pipeline

    target = str(tmp_path / "target")
    csv = str(tmp_path / "batch")
    generate_transactions(spark, 200, seed=3).write.option("header", True).csv(csv)
    run_pipeline(spark.read.csv(csv, header=True, schema=TRANSACTIONS_RAW), upsert_target=target)
    df = spark.read.csv(csv, header=True, schema=TRANSACTIONS_RAW)
    jobs = jobs_during(
        lambda: run_pipeline(df, json_path=str(tmp_path / "json"), upsert_target=target)
    )
    assert jobs <= 3
    assert spark.read.parquet(target).count() == spark.read.json(str(tmp_path / "json")).count()
