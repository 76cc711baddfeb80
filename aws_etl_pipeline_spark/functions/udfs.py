"""User-extensible UDF surface (SURVEY §2B UDF row).

Three tiers, in the order a 100 TB pipeline should reach for them:

  1. built-in expressions — everything else in this repo; always first.
  2. pandas (Arrow-vectorized) UDFs — ``@pandas_udf`` scalar and
     ``applyInPandas`` grouped-map: the acceptable Python escape hatch
     (~10-100x the throughput of row-at-a-time).
  3. row-at-a-time Python UDFs — the shape of the reference's
     ``df['amount'].apply(categorize_amount)`` (`lambda_function.py:128`);
     provided for parity, deliberately demonstrated on the same logic
     the engine otherwise runs as a CASE expression (R9).

All three have deterministic logic, so each carries a DuckDB oracle —
the UDF plumbing itself (serialization, batching, null passing) is
what gets verified.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import query


@F.pandas_udf(T.DoubleType())
def _sigmoid_score(v: pd.Series) -> pd.Series:
    """Vectorized over Arrow batches: numpy does the math, no per-row
    Python."""
    import numpy as np

    return 1.0 / (1.0 + np.exp(-(v - 50.0) / 10.0))


@query(
    "udf_pandas_scalar",
    oracle="""
SELECT event_id, round(1.0 / (1.0 + exp(-(value - 50.0) / 10.0)), 9) AS score
FROM events
""",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF: sigmoid scoring of event
    values (rounded to absorb libm ulp differences)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", F.round(_sigmoid_score("value"), 9).alias("score"))


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    mean = pdf["value"].mean()
    sd = pdf["value"].std(ddof=1)  # == stddev_samp
    pdf["zscore"] = ((pdf["value"] - mean) / sd).round(6)
    return pdf[["event_id", "event_type", "zscore"]]


@query(
    "udf_grouped_zscore",
    oracle="""
SELECT event_id, event_type,
       round((value - avg(value) OVER (PARTITION BY event_type))
             / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS zscore
FROM events
""",
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (applyInPandas): per-event-type z-score.
    Each group arrives as one pandas frame — the custom-stateful-
    operator shape; the oracle recomputes it with window functions."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", "event_type", "value").groupBy("event_type").applyInPandas(
        _zscore_group, schema="event_id long, event_type string, zscore double"
    )


@F.udf(T.StringType(), useArrow=False)
def _categorize_amount_py(amount) -> str:
    """Row-at-a-time port of the reference's categorize_amount
    (`lambda_function.py:154-167`) — the slow path, kept only as the
    UDF-registry parity demo; production uses the CASE expression (R9).
    ``useArrow=False`` names the pickled row-at-a-time path; left
    unset, PySpark tries to infer an eval type from the hints and warns
    on every import of the registry."""
    if amount is None:
        return "unknown"
    a = abs(amount)
    if a < 25:
        return "small"
    if a < 100:
        return "medium"
    if a < 500:
        return "large"
    return "very_large"


@query(
    "udf_python_rowwise",
    oracle="""
SELECT event_id,
       CASE WHEN value IS NULL THEN 'unknown'
            WHEN abs(value) < 25  THEN 'small'
            WHEN abs(value) < 100 THEN 'medium'
            WHEN abs(value) < 500 THEN 'large'
            ELSE 'very_large' END AS category
FROM events
""",
)
def udf_python_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — null handling and serde verified
    against the CASE-expression oracle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", _categorize_amount_py("value").alias("category"))


@query(
    "udtf_sentence_split",
    oracle="""
SELECT doc_id,
       (u.i - 1)::BIGINT AS sentence_idx,
       trim(u.s) AS sentence,
       length(trim(u.s))::BIGINT AS sent_chars
FROM (
  SELECT doc_id,
         unnest(string_split(text, '.')) AS s,
         unnest(generate_series(1, len(string_split(text, '.')))) AS i
  FROM documents
) u(doc_id, s, i)
WHERE length(trim(u.s)) > 0
""",
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function API, SURVEY §2B UDF row,
    fourth tier): one input row -> many output rows, here a sentence
    splitter emitting (idx, sentence, n_chars) per '.'-terminated
    span. The UDTF mechanism (arbitrary Python generators in the
    FROM clause via lateral join) is what's verified — the split
    itself is expression-expressible (the oracle proves it), which is
    exactly how a tokenizer/paragraph-chunker UDTF slots into a real
    corpus pipeline where the logic is NOT expressible."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx: long, sentence: string, sent_chars: long")
    class SentenceSplit:
        def eval(self, text: str):  # noqa: D401
            if text is None:
                return
            for i, span in enumerate(text.split(".")):
                s = span.strip()
                if s:
                    yield i, s, len(s)

    d = load_table(spark, sf_dir, "documents")
    return d.lateralJoin(
        SentenceSplit(F.col("text").outer())
    ).select("doc_id", "sentence_idx", "sentence", "sent_chars")
