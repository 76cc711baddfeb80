"""SparkSession factory.

Local-mode defaults mirror the cluster profile we design for: AQE with
partition coalescing and skew-join handling on, shuffle parallelism
sized to cores (not the 200 default), UTC session timezone (so date
logic agrees with the UTC-naive DuckDB oracle), Arrow enabled for the
pandas-UDF path, and the legacy nanos-as-long parquet shim (the
driver-generated ``events`` table stores TIMESTAMP(NANOS), which Spark
otherwise refuses to read; see catalog.load_table for the ns->us
conversion).

The driver JVM maps a class-data-sharing archive of the classes the
engine loads (``cds.py``), built once per JDK and Spark install. On a
4-vCPU host (``local[2]``, OpenJDK 17, Spark 4.1) ``get_spark`` took
10.3-10.6 s without it and 3.7-4.4 s with it; in 10 alternating
perfbench pairs each, ``setup_s`` fell from a median of 43.3 to 34.2 s
on ``ingest_upsert`` and from 37.9 to 29.8 s on ``olap_short``, and
``pass_s`` stayed within 1%.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import cds

ENGINE_NAME = "aws-etl-pipeline-spark"

#: Static ``spark.sql.codegen.cache.maxEntries`` of a ``get_spark``
#: session. Spark's default of 100 does not hold one ``olap_short``
#: pass, so every warm pass recompiled 65–69 whole-stage classes
#: (0.5–0.6 s of Janino time). A full registry drive at sf0.01 compiles
#: 8421 distinct classes (the JVM's CodegenMetrics compilation counter,
#: with an unbounded cache); this holds them all, at up to ~42 KB of
#: metaspace each (2214 classes took 93 MB). A bare driver session
#: cannot set a static conf and keeps the default: correct, only slower.
CODEGEN_CACHE_ENTRIES = 10000

#: Ceiling of the default driver heap: the heap the 1000x-replica
#: measurements in SCALING.md were taken with.
DRIVER_MEM_CAP_MB = 12 * 1024


def driver_memory(phys_bytes: int | None = None) -> str:
    """The driver heap: $SPARK_GRAFT_DRIVER_MEM (a deployment setting)
    if set, else a quarter of physical memory (the JVM's own default
    heap share), capped at ``DRIVER_MEM_CAP_MB`` and never below Spark's
    own 1 GiB default. A local session's driver is its executor too,
    and shares the host with the Python workers and an in-process
    DuckDB: a 12 GiB heap on a 15 GiB host grew to 10.7 GiB resident
    and was killed mid-run."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        except (ValueError, OSError):
            return f"{DRIVER_MEM_CAP_MB}m"
    return f"{max(1024, min(DRIVER_MEM_CAP_MB, phys_bytes // 4 // 2**20))}m"


#: SQL confs that are runtime-settable and required for correct reads —
#: applied defensively to *any* session handed to us (the verify driver
#: builds its own SparkSession).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r15 (guide §2.2 "fewer, larger reduce partitions"): size
    # post-shuffle partitions by BYTES (the advisory target), not by
    # core count. The default (true) pins every tiny shuffle at
    # defaultParallelism tasks — measured 8-25% pure scheduling
    # overhead per query at bench SF and the direct cause of
    # dedup_minhash_lsh's 32-core > 8-core anti-scaling; at 100 TB
    # byte-sized partitions are exactly what the guide prescribes.
    # Compute-dense/small-bytes stages that need parallelism pin it
    # explicitly (load_spread / load_spread_keyed's explicit counts,
    # the NF register rounds' parallelism-first override).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Partitioned-layout discovery: the default threshold (32 dirs)
    # launches a cluster job to list directories — pure task-overhead
    # for the staged bucketed fixtures (~500 local dirs list in ms on
    # the driver). On a real object store at 100 TB, listing is owned
    # by the catalog/manifest layer, not per-query jobs, so raising
    # the in-engine threshold is the right default at both ends.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    # Null-on-error cast semantics (reference uses pandas errors='coerce';
    # ANSI would raise instead).
    "spark.sql.ansi.enabled": "false",
    # Split size stays at the 128 MB default: at bench SF the per-query
    # data (~20 MB) is below one split, and forcing smaller splits was
    # measured to cost more in task scheduling than it buys in
    # parallelism. Compute-bound operators spread explicitly instead
    # (catalog.load_spread); scan-bound ones are IO-trivial here and
    # split naturally at production file sizes.
}


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment; proceed with defaults
    try:
        # A session we didn't build (the verify driver's bare
        # SparkSession) keeps the 200-partition shuffle default; size it
        # to the actual parallelism instead — AQE still coalesces below
        # this, it is only the upper bound / initial task count.
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    return spark


# ------------------------------------------------------------- s3a readiness
#: The reference reads raw batches from and writes processed output to
#: S3 (`lambda_function.py:80,288`, ` s3_uploader.py:127`). The Spark
#: equivalent is the same scan/sink code with an ``s3a://`` path — the
#: only cluster-side work is configuration, which this block owns so an
#: EMR/Glue/k8s deployment is a one-call setup. Nothing here is
#: exercisable in this sandbox (no object store, no hadoop-cloud jars
#: beyond what pyspark bundles); the unit test asserts the WIRING — the
#: confs land on the builder/session — not S3 round-trips.

#: Job-commit safety on a store with no atomic rename: the cloud
#: committer binding (spark-hadoop-cloud) turns task commits into S3
#: multipart uploads completed at job commit. Without it, the default
#: FileOutputCommitter v1/v2 rename phase is O(data) on S3 and can
#: surface partial output on failure.
S3A_COMMITTER_CONFS = {
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
}

#: Throughput knobs sized for many-core executors scanning large
#: parquet: parallel connections/threads above the tiny Hadoop
#: defaults, multipart+readahead at parquet-row-group granularity.
S3A_TUNING_CONFS = {
    "spark.hadoop.fs.s3a.connection.maximum": "96",
    "spark.hadoop.fs.s3a.threads.max": "64",
    "spark.hadoop.fs.s3a.fast.upload": "true",
    "spark.hadoop.fs.s3a.multipart.size": "134217728",
    "spark.hadoop.fs.s3a.readahead.range": "1048576",
    # Keeping directory markers avoids a LIST+DELETE per directory on
    # write-heavy jobs (safe on Hadoop 3.1+ readers).
    "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
}


def s3a_confs(
    access_key: str | None = None,
    secret_key: str | None = None,
    session_token: str | None = None,
    endpoint: str | None = None,
    region: str | None = None,
    committer: bool = True,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Spark conf dict making ``s3a://bucket/...`` paths work in every
    scan/sink of this engine (`sources/scans.py`, `operators/etl.py` —
    the path is the only thing that changes vs local parquet).

    Credentials: explicit keys pin the simple/temporary provider;
    with no keys the conf stays silent so s3a's DEFAULT provider chain
    runs (env vars -> instance/role credentials — the right setup on
    EMR/Glue, where the instance role carries the permissions).
    ``extra`` passes any further ``fs.s3a.*`` knob through verbatim
    under the ``spark.hadoop.`` prefix Spark requires for Hadoop confs
    set at session level."""
    out: dict[str, str] = dict(S3A_TUNING_CONFS)
    if committer:
        out.update(S3A_COMMITTER_CONFS)
    if access_key and secret_key:
        out["spark.hadoop.fs.s3a.access.key"] = access_key
        out["spark.hadoop.fs.s3a.secret.key"] = secret_key
        if session_token:
            out["spark.hadoop.fs.s3a.session.token"] = session_token
            out["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
            )
        else:
            out["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
            )
    if endpoint:
        out["spark.hadoop.fs.s3a.endpoint"] = endpoint
        # Non-AWS endpoints (MinIO, localstack) are path-style.
        out["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if region:
        out["spark.hadoop.fs.s3a.endpoint.region"] = region
    for k, v in (extra or {}).items():
        out[k if k.startswith("spark.") else f"spark.hadoop.{k}"] = v
    return out


def s3a_confs_from_env() -> dict[str, str] | None:
    """The zero-code path: when AWS credentials are present in the
    environment (AWS_ACCESS_KEY_ID/AWS_SECRET_ACCESS_KEY, the same
    variables boto3 and the reference's Lambda runtime read), return
    the matching conf dict; otherwise None (no credentials is NOT an
    error — an instance role may still carry access, callers opt in
    via s3a_confs()).

    Credentials and tuning ONLY — the committer binding is deliberately
    NOT auto-wired: ``spark.sql.sources.commitProtocolClass`` applies
    to every file write regardless of scheme, and the cloud-committer
    classes live in spark-hadoop-cloud, which plain pyspark does not
    bundle — auto-binding would make a purely LOCAL job on any machine
    with ambient AWS env credentials fail its first write with
    ClassNotFoundException. Deployments that write to s3a opt in via
    ``s3a_confs()`` (committer=True is its default), which is the
    moment the spark-hadoop-cloud jars are on the classpath anyway.
    Region precedence follows boto3: AWS_REGION wins over
    AWS_DEFAULT_REGION."""
    ak = os.environ.get("AWS_ACCESS_KEY_ID")
    sk = os.environ.get("AWS_SECRET_ACCESS_KEY")
    if not (ak and sk):
        return None
    return s3a_confs(
        access_key=ak,
        secret_key=sk,
        session_token=os.environ.get("AWS_SESSION_TOKEN"),
        region=os.environ.get("AWS_REGION") or os.environ.get("AWS_DEFAULT_REGION"),
        committer=False,
    )


def get_spark(
    app_name: str = ENGINE_NAME,
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (or 4). On a real cluster the
    master/memory settings come from spark-submit; everything set here is
    also cluster-safe.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # SPARK_GRAFT_STATE_STORE=rocksdb swaps streaming state off-heap —
    # the production backend for row-buffering stateful operators
    # (stream-stream joins). The default HDFSBacked store keeps state
    # as in-heap Java objects, which is faster at fixture scale but
    # OOMs the 12 GiB protocol heap when a 1000x-replica micro-batch
    # buffers ~25M rows/side of join state; the same query completes
    # under RocksDB (measured: SCALING.md round-11 continuation).
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # s3a auto-wire: env credentials present -> the session can read
    # s3a:// paths with no further setup (mirrors the reference's
    # boto3-from-env behavior). extra_conf still overrides.
    env_s3a = s3a_confs_from_env()
    if env_s3a:
        for k, v in env_s3a.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = cds.get_or_create(builder, extra_conf or {})
    spark.sparkContext.setLogLevel("WARN")
    return ensure_engine_confs(spark)


def stop_streaming(spark: SparkSession) -> None:
    """Stop ``spark``'s active streams and the state stores' maintenance
    task. Run before ``spark.stop()``: a maintenance run that overlaps
    the context shutdown logs ``SparkEnv not active, cannot do
    maintenance on StateStores``. A later stateful stream restarts the
    task."""
    for q in spark.streams.active:
        q.stop()
    spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()


def stop_spark(spark: SparkSession) -> None:
    """The one way a harness ends its session: streams and state-store
    maintenance first (``stop_streaming``), then ``spark.stop()``."""
    stop_streaming(spark)
    spark.stop()
