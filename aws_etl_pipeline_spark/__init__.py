"""aws_etl_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine (not a port) with the query and data-processing
capabilities of the reference `kariuki789/AWS-ETL-PIPELINE` (a pandas
Lambda CSV->transform->JSON/Redshift ETL, see SURVEY.md), re-expressed
Spark-first: explicit schemas, lazy DataFrame plans optimized by
Catalyst/AQE, Structured Streaming for the event-driven path, and the
full relational + LLM-data-pipeline operator surface on top.

Layout:
    session.py    SparkSession factory (AQE, UTC, Arrow, ns-parquet shim)
    schemas.py    explicit StructType schemas (transactions + testdata)
    catalog.py    table loaders
    staging.py    build-once fixtures and per-process scratch under $TMPDIR
    registry.py   named-query registry (Spark callable + DuckDB oracle twin)
    generator.py  deterministic Spark-native transaction generator (R20)
    operators/    ETL pipeline (R1-R18), relational, window, set ops, upsert
    functions/    scalar function surface (string/date/math/array/json)
    streaming/    file-source ingest (R19 analog), event-time windows
    llm/          dedup, similarity search, text analysis, multimodal
"""

__version__ = "0.1.0"
