"""The bounded driver collect (``aws_etl_pipeline_spark.cache``)."""

import logging
import re

import pytest

from aws_etl_pipeline_spark.cache import BoundExceeded, bounded_collect


def test_bounded_collect_returns_rows_and_logs_them(spark, caplog):
    with caplog.at_level(logging.INFO, logger="aws_etl_pipeline_spark.staging"):
        rows = bounded_collect(spark.range(5), 5, "five_ids")
    assert sorted(r.id for r in rows) == [0, 1, 2, 3, 4]
    assert re.fullmatch(r"collect five_ids rows=5 \d+ ms", caplog.messages[-1])


def test_bounded_collect_past_the_bound_raises(spark, caplog):
    with caplog.at_level(logging.INFO, logger="aws_etl_pipeline_spark.staging"):
        with pytest.raises(BoundExceeded, match="hundred_ids") as err:
            bounded_collect(spark.range(100), 4, "hundred_ids")
    assert (err.value.what, err.value.max_rows) == ("hundred_ids", 4)
    # only max_rows + 1 rows were fetched
    assert re.fullmatch(r"collect hundred_ids rows=5 \d+ ms", caplog.messages[-1])
