"""The load_table schema memo: a warm load launches no job, a table
rewritten in place is inferred again, and each call still returns a
fresh plan. Plus the session's codegen cache: a warm query compiles
nothing."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_etl_pipeline_spark.catalog import load_table
from aws_etl_pipeline_spark.registry import all_queries
from aws_etl_pipeline_spark.schemas import TABLE_NAMES


def test_second_load_launches_no_job(spark, sf_dir, jobs_during):
    load_table(spark, sf_dir, "orders")
    assert jobs_during(lambda: load_table(spark, sf_dir, "orders")) == 0


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_table_rewritten_in_place_is_inferred_again(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")

    def write(table):
        if layout == "file":
            pq.write_table(table, path)
        else:
            spark.createDataFrame(table.to_pandas()).write.mode("overwrite").parquet(path)

    write(pa.table({"a": [1, 2]}))
    load_table(spark, str(tmp_path), "t")
    assert load_table(spark, str(tmp_path), "t").dtypes == [("a", "bigint")]  # a hit
    write(pa.table({"a": [3], "b": ["x"]}))
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_hit_dtypes_equal_a_plain_read(spark, sf_dir, sf):
    root = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(root):
        pytest.skip(f"{root} not present")
    for name in TABLE_NAMES:
        load_table(spark, root, name)
        plain = spark.read.parquet(os.path.join(root, f"{name}.parquet"))
        want = [
            (c, "timestamp_ntz" if (name, c) == ("events", "ts") else t)
            for c, t in plain.dtypes
        ]
        assert load_table(spark, root, name).dtypes == want, name


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    pairs = a.join(b, a["o_custkey"] == b["o_custkey"]).select(
        a["o_orderkey"], b["o_orderkey"]
    )
    by_cust = a.groupBy("o_custkey").count().collect()
    assert pairs.count() == sum(r["count"] ** 2 for r in by_cust)


def test_warm_query_compiles_no_codegen_class(spark, sf_dir, probe):
    # one interactive session's mix; its classes overflow Spark's
    # default 100-entry codegen cache
    qs = all_queries()
    names = (
        "etl_flagship", "q3_shipping_priority", "q6_forecast_revenue", "sql_cte_chain",
        "agg_distinct", "upsert_merge", "multimodal_features", "bpe_train_merges",
    )
    for name in names:  # cold run: compiles and caches
        qs[name].fn(spark, sf_dir).collect()
    before = probe.read()
    for name in names:
        qs[name].fn(spark, sf_dir).collect()
    assert (probe.read() - before).compiles == 0
