"""Source/scan operators (SURVEY §2B Scan rows; reference R1/R2).

The reference reads one CSV per Lambda invocation with inferred schema
(`lambda_function.py:74-93`); the engine reads CSV/JSON/parquet with
explicit schemas and gets pushdown + partition pruning from the
format. These queries verify *round-trip fidelity*: parquet -> sink
format -> scan must reproduce the table bit-for-bit, so the oracle is
simply the original table — any encode/decode defect surfaces as a
hash mismatch.

Round-trip fixtures rewrite on every call, because the write is the
operator under test; layout fixtures are built once. Both live where
`staging` puts them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import staging
from ..catalog import load_table
from ..registry import query
from ..schemas import TESTDATA


@query(
    "scan_csv_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan with explicit schema (R1/R21): customer written
    as headered CSV, read back typed. The oracle is the source table —
    the round trip must be lossless."""
    out = staging.location("csv", sf_dir)
    c = load_table(spark, sf_dir, "customer")
    staging.publish(out, lambda tmp: c.write.option("header", True).csv(tmp))
    return spark.read.schema(TESTDATA["customer"]).option("header", True).csv(out)


@query(
    "scan_json_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + scan with explicit schema (R16/R22 -> scan)."""
    out = staging.location("json", sf_dir)
    r = load_table(spark, sf_dir, "region")
    staging.publish(out, lambda tmp: r.write.json(tmp))
    return spark.read.schema(TESTDATA["region"]).json(out)


@query(
    "scan_partition_pruned",
    oracle="""
SELECT o_orderkey, o_totalprice, year(o_orderdate)::BIGINT AS yr
FROM orders WHERE year(o_orderdate) = 1997
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + pruned scan: orders partitioned by year
    (the reference's year=/month=/day= layout, ` s3_uploader.py:113-118`,
    which it never reads back selectively — SURVEY §4.1). The filter on
    the partition column prunes directories before any IO; the plan
    assertion lives in tests/test_plans.py."""

    def write(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        o.withColumn("yr", F.year("o_orderdate").cast("long")).write.partitionBy(
            "yr"
        ).parquet(tmp)

    return (
        staging.staged(spark, "part_orders", sf_dir, write)
        .filter(F.col("yr") == 1997)
        .select("o_orderkey", "o_totalprice", "yr")
    )


@query(
    "scan_orc_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan (the third columnar format Spark ships natively;
    DuckDB has no ORC reader, so the oracle is the source table and the
    round trip must be lossless — same contract as the CSV/JSON scans)."""
    out = staging.location("orc", sf_dir)
    n = load_table(spark, sf_dir, "nation")
    staging.publish(out, lambda tmp: n.write.orc(tmp))
    return spark.read.schema(TESTDATA["nation"]).orc(out)


@query(
    "scan_bucketed_join",
    oracle="""
SELECT o.o_orderstatus,
       count(*)::BIGINT AS n_lines,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
""",
)
def scan_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed write + co-located join: orders and lineitem are both
    written bucketed 8 ways on the order key, so the join consumes the
    on-disk bucketing and needs NO exchange on either side (asserted in
    tests/test_plans.py). This is the write-time layout that turns every
    repeated orderkey join at 100 TB into a local zipper — pay one
    shuffle at ingest, never again. Bucketed tables also demonstrate
    the zstd parquet codec (smaller at rest, splittable, and cheap to
    decode; snappy is the read-throughput alternative)."""

    def bucketed(tbl: str, col: str) -> DataFrame:
        return staging.bucketed(
            spark,
            f"bkt_{tbl}",
            sf_dir,
            lambda: load_table(spark, sf_dir, tbl).write.option("compression", "zstd"),
            col,
            8,
        )

    o, l = bucketed("orders", "o_orderkey"), bucketed("lineitem", "l_orderkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "scan_range_clustered",
    oracle="""
SELECT count(*)::BIGINT AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       min(l_shipdate) AS first_ship,
       max(l_shipdate) AS last_ship
FROM lineitem
WHERE l_shipdate BETWEEN DATE '1994-01-01' AND DATE '1994-12-31'
""",
)
def scan_range_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered write + pruned scan: lineitem is rewritten with
    ``repartitionByRange(8, l_shipdate)`` + ``sortWithinPartitions``,
    giving files with disjoint l_shipdate spans and monotone row
    groups — so a date-range scan prunes at BOTH the file level
    (footer min/max) and the row-group level (pushed filter). This is
    the sort-key clustering that makes time-range queries on a 100 TB
    fact table touch ~1% of the bytes; the disjoint-span property is
    asserted file-by-file in tests/test_plans.py. The oracle is the
    same filter+aggregate on the unclustered source — layout must not
    change results."""
    out, _ = staging.stage(
        "range_lineitem",
        sf_dir,
        lambda tmp: load_table(spark, sf_dir, "lineitem")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.parquet(tmp),
    )
    lo, hi = "1994-01-01", "1994-12-31"
    return (
        spark.read.schema(TESTDATA["lineitem"])
        .parquet(out)
        .filter(F.col("l_shipdate").between(lo, hi))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
    )


def _permissive_customer_schema():
    """customer schema + quarantine column, as a FRESH StructType —
    StructType.add() mutates in place, so extending the shared TESTDATA
    schema directly would pollute every later customer read."""
    from pyspark.sql import types as T

    return T.StructType(
        list(TESTDATA["customer"].fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )


def ensure_output_root(spark: SparkSession, path: str) -> bool:
    """Reference R23 (` s3_uploader.py:191-202`
    ``create_bucket_if_not_exists``): make sure a sink root exists
    before a job writes under it. The Spark-native analog is the
    Hadoop FileSystem contract, which resolves the scheme from the
    path — ``file:/`` and ``hdfs:/`` get a real mkdir, ``s3a://`` a
    zero-byte directory marker (creating the BUCKET itself is an
    account-control-plane operation S3 policy usually denies to data
    jobs; on a missing bucket this surfaces the store's own error
    rather than guessing). Returns True when the path already existed,
    False when it was created — the reference's two log branches.

    Spark writers create directories implicitly, so calling this is
    only *required* for sinks outside Spark (the JDBC staging CSV
    drop-zone, foreachBatch side outputs); it exists to make the
    pre-flight explicit and testable."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if fs.exists(hpath):
        # A pre-existing regular FILE at the root is NOT a usable sink:
        # report it now with a clear message instead of deferring to the
        # first write's opaque failure (the pre-flight-check intent).
        if not fs.getFileStatus(hpath).isDirectory():
            raise ValueError(
                f"output root {path!r} exists but is a file, not a "
                "directory — refusing to use it as a sink root"
            )
        return True
    fs.mkdirs(hpath)
    return False


@query(
    "scan_csv_permissive",
    oracle="""
SELECT count(*)::BIGINT                                    AS n_good,
       sum(c_custkey)::BIGINT                               AS key_sum,
       sum(c_nationkey)::BIGINT                             AS nk_sum,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
       min(c_name)                                          AS first_name,
       count(DISTINCT c_mktsegment)::BIGINT                 AS n_segments
FROM customer
""",
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance (the reference's coerce-to-null /
    dropna posture, `lambda_function.py:107-119`, done properly):
    customer as CSV plus a file of garbage lines, read in PERMISSIVE
    mode with a ``_corrupt_record`` quarantine column. Good rows must
    aggregate to exactly the source table (the oracle); corrupt rows
    are retained for inspection, not silently dropped — the
    count-the-quarantine assertion lives in tests/test_etl.py. At
    100 TB this is the difference between one bad object failing a
    2-hour job (FAILFAST), silent data loss (DROPMALFORMED), and an
    auditable quarantine (PERMISSIVE)."""

    def write(tmp: str) -> None:
        load_table(spark, sf_dir, "customer").write.option("header", True).csv(tmp)
        with open(f"{tmp}/bad.csv", "w") as f:
            f.write("c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment\n")
            f.write("notanint,Garbage Row,xx,notadouble,JUNK\n")
            f.write("alsobad,Short Row\n")
            f.write("NaN,Another,One,Bad,Row,With,Extra,Columns\n")

    out, _ = staging.stage("csv_permissive", sf_dir, write)
    schema = _permissive_customer_schema()
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    # Aggregate over EVERY data column: CSV column pruning otherwise
    # parses only the referenced fields, and a short row whose missing
    # fields were pruned away would not be marked corrupt.
    return df.filter(F.col("_corrupt_record").isNull()).agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.sum("c_nationkey").cast("long").alias("nk_sum"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("bal_sum"),
        F.min("c_name").alias("first_name"),
        F.countDistinct("c_mktsegment").cast("long").alias("n_segments"),
    )


@query(
    "scan_schema_evolution",
    oracle="""
SELECT o_orderkey, o_totalprice,
       NULL::VARCHAR AS o_orderpriority, NULL::TIMESTAMP AS o_orderdate
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderdate
FROM orders WHERE o_orderkey % 2 = 1
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: two parquet "generations" of the same
    table — an old batch written before two columns existed and a new
    batch carrying them — read back as ONE relation with
    ``mergeSchema``, old rows null-padded for the late columns. This
    is the operational reality of a 100 TB lake (producers add columns
    over years; re-writing history is not an option): schema merge is
    a FOOTER-level union, so the cost is one footer read per file, and
    column pruning/pushdown still apply per file. The oracle is the
    same union spelled with explicit NULL padding — a type widening or
    column misalignment in the merge path flips the hash."""
    out = staging.location("schemaevo", sf_dir)
    o = load_table(spark, sf_dir, "orders")

    def write(tmp: str) -> None:
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(tmp + "/gen1")
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate"
        ).write.parquet(tmp + "/gen2")

    staging.publish(out, write)
    return (
        spark.read.option("mergeSchema", True)
        .parquet(out + "/gen1", out + "/gen2")
        .select("o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate")
    )


@query(
    "scan_xml_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan — Spark 4's built-in XML source (the former
    spark-xml package, merged upstream): nation written with a
    row tag per record, read back with an explicit schema (XML infers
    everything as string otherwise; a streaming XML feed — the classic
    enterprise-integration format — needs the schema pinned exactly
    like the CSV path, R1). Special characters are entity-escaped on
    write and unescaped on read, so the trip is lossless and the
    oracle is the source table."""
    out = staging.location("xml", sf_dir)
    n = load_table(spark, sf_dir, "nation")
    staging.publish(
        out,
        lambda tmp: n.write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(tmp),
    )
    return (
        spark.read.schema(TESTDATA["nation"])
        .format("xml")
        .option("rowTag", "nation")
        .load(out)
    )


def scan_avro_roundtrip_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink + scan — the row-oriented interchange format next to
    the columnar ORC path (same lossless-round-trip contract as
    scan_orc_roundtrip). NOT registered as a query: spark-avro is an
    "external data source module since Spark 2.4" (the exact error
    Spark raises without it), i.e. a separate jar this container
    doesn't ship and can't fetch (no network, installs disallowed).
    tests/test_avro.py probes the format at session time and executes
    this round trip for real the day the environment gains the jar —
    the delta-spark / protobuf standing-probe pattern."""
    out = staging.location("avro", sf_dir)
    n = load_table(spark, sf_dir, "nation")
    staging.publish(out, lambda tmp: n.write.format("avro").save(tmp))
    return spark.read.schema(TESTDATA["nation"]).format("avro").load(out)


# --------------------------------------------------------------------------
# Partitioned-parallel JDBC ingest (round-8 batch). The classic "lift
# an operational database into the lake" source: a stride-partitioned
# read where every executor pulls its own key range over its own
# connection. Runs for real against embedded Apache Derby (bundled in
# Spark's classpath — the test_jdbc_merge precedent), so the exact
# production code path (bounds probe -> N predicate-disjoint range
# queries in parallel) executes end-to-end.
# --------------------------------------------------------------------------

#: parallel connections for the partitioned read.
_JDBC_PARTS = 8

_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby_customer_db(spark: SparkSession, sf_dir: str) -> str:
    """Seed (once per sf fingerprint) an embedded Derby database with
    the customer table — the stand-in operational DB. Column names are
    written UPPERCASE so Spark's unquoted partition predicates
    (``C_CUSTKEY >= ?``) resolve against Derby's case-folding."""

    def build(tmp: str) -> None:
        cust = load_table(spark, sf_dir, "customer")
        up = cust.select(*[F.col(c).alias(c.upper()) for c in cust.columns])
        up.coalesce(2).write.jdbc(
            url=f"jdbc:derby:{tmp};create=true",
            table="CUSTOMER_JDBC",
            mode="errorifexists",
            properties=_DERBY_PROPS,
        )
        # cleanly shut the db down before the rename swap — Derby
        # keeps booted databases open in the JVM, and renaming an
        # open store corrupts it. Successful shutdown SIGNALS via
        # SQLException 08006 by design.
        try:
            spark._jvm.java.sql.DriverManager.getConnection(  # noqa: SLF001
                f"jdbc:derby:{tmp};shutdown=true"
            )
        except Exception:
            pass

    return staging.stage("derby_cust", sf_dir, build)[0]


@query(
    "scan_jdbc_partitioned",
    oracle="""
SELECT c_nationkey, count(*)::BIGINT AS n,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
       min(c_custkey)::BIGINT AS min_key, max(c_custkey)::BIGINT AS max_key
FROM customer GROUP BY 1
""",
)
def scan_jdbc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-partitioned parallel JDBC ingest: bounds probe (one-row
    query, the only driver-side action) then an 8-way range-partitioned
    read — Spark issues 8 disjoint ``C_CUSTKEY`` range queries over 8
    connections, so an operational-DB lift scales with executors
    instead of serializing through one cursor. The per-nation exact
    aggregate downstream makes the correctness contract sharp: any
    row lost or duplicated at a partition boundary (the classic
    off-by-one in lowerBound/upperBound handling) flips the hash vs
    the parquet oracle.

    Scale notes: ranges are contiguous key strides — a skewed key
    distribution skews connections (Spark's documented behavior);
    production mitigations are a hashed synthetic partition column or
    predicates=[...] with explicit split points. upperBound is max+1
    because Spark's last stride is inclusive-exclusive. Reference:
    the psycopg2 single-cursor load at `lambda_function.py:176` is the
    serial form of this operator.
    """
    db = _derby_customer_db(spark, sf_dir)
    url = f"jdbc:derby:{db}"
    bounds = spark.read.jdbc(
        url,
        "(SELECT MIN(C_CUSTKEY) LO, MAX(C_CUSTKEY) HI FROM CUSTOMER_JDBC) B",
        properties=_DERBY_PROPS,
    ).first()
    cust = spark.read.jdbc(
        url,
        "CUSTOMER_JDBC",
        column="C_CUSTKEY",
        lowerBound=int(bounds["LO"]),
        upperBound=int(bounds["HI"]) + 1,
        numPartitions=_JDBC_PARTS,
        properties=_DERBY_PROPS,
    )
    return cust.groupBy(F.col("C_NATIONKEY").alias("c_nationkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("C_ACCTBAL").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        F.min("C_CUSTKEY").cast("long").alias("min_key"),
        F.max("C_CUSTKEY").cast("long").alias("max_key"),
    )
