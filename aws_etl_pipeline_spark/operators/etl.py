"""The reference's ETL surface, Spark-first.

Implements the composite pipeline of `lambda_function.py:96-151`
(reference R3-R14 in SURVEY.md §2A) as one projection over the R3
filter, where the reference materializes a pandas frame per step and
falls back to a row-wise Python ``apply`` for the bucketize step
(`lambda_function.py:128`). The projection is written as SQL-expression
text in two ``selectExpr`` calls, the casts (R4-R6) and then every
column derived from them (R7-R14): the JVM parses each list in one
call, where a ``withColumn`` per step costs an analysis and a dozen
py4j round trips (254 round trips to build the chain; 43 now). Both
run in one whole-stage-codegen stage over the scan, and each cast is
computed once for the columns derived from it.

Soft-column semantics are preserved: every step guards on column
presence (`if '<col>' in df.columns`, `lambda_function.py:112-143`),
so partial schemas degrade gracefully exactly like the reference. A
step whose column already exists replaces it in place, and new columns
are appended in step order, as a ``withColumn`` chain would.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

#: |amount| bucket thresholds, `lambda_function.py:154-167`.
AMOUNT_BUCKETS = (25.0, 100.0, 500.0)
PROCESSED_BY = "lambda-etl-pipeline"  # `lambda_function.py:123`
TEXT_COLUMNS = ("description", "category", "location")  # `lambda_function.py:140`


def amount_category_expr(amount):
    """R9 bucketize as a Catalyst CASE expression (reference: row-wise
    ``apply(categorize_amount)``, `lambda_function.py:126-167`)."""
    a = F.abs(amount)
    return (
        F.when(amount.isNull(), F.lit("unknown"))
        .when(a < AMOUNT_BUCKETS[0], "small")
        .when(a < AMOUNT_BUCKETS[1], "medium")
        .when(a < AMOUNT_BUCKETS[2], "large")
        .otherwise("very_large")
    )


def transform_transactions(
    df: DataFrame,
    *,
    required: tuple[str, ...] = ("transaction_id", "amount"),
    stamp_processing_time: bool = True,
    pandas_nan_compat: bool = False,
) -> DataFrame:
    """The flagship transform chain, R3-R14 (`lambda_function.py:96-151`).

    Column-presence-driven like the reference; missing columns are
    skipped, ``required`` columns drive the null-drop filter (R3).
    Cast failures yield null (ANSI off), matching pandas
    ``errors='coerce'`` (R4-R6). Divergence from the reference, by
    design: pandas ``astype(str)`` turns NaN into the literal ``'Nan'``
    after title-casing (`lambda_function.py:139-143`); we keep null
    (SURVEY §2A R14 note). ``pandas_nan_compat=True`` opts into the
    reference's bug-for-bug behavior for byte-identical migrations.
    """
    cols = df.columns

    def q(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    present = [c for c in required if c in cols]
    if present:  # R3 drop-null filter
        df = df.na.drop(subset=present)

    out = {c: q(c) for c in cols}  # in-place replacement keeps the position
    if "amount" in cols:  # R4 numeric cast, null on error
        out["amount"] = "CAST(`amount` AS DOUBLE)"
    if "date" in cols:  # R5 date cast
        out["date"] = "to_date(`date`)"
    if "timestamp" in cols:  # R6 timestamp cast
        out["timestamp"] = "to_timestamp(`timestamp`)"
    df = df.selectExpr(*(f"{e} AS {q(c)}" for c, e in out.items()))

    out = {c: q(c) for c in out}
    if stamp_processing_time:  # R7 (non-deterministic; off for oracle queries)
        out["processed_timestamp"] = "current_timestamp()"
    out["processed_by"] = f"'{PROCESSED_BY}'"  # R8
    if "amount" in cols:
        small, medium, large = (f"{b!r}D" for b in AMOUNT_BUCKETS)
        out["amount_category"] = (  # R9, as amount_category_expr
            "CASE WHEN `amount` IS NULL THEN 'unknown' "
            f"WHEN abs(`amount`) < {small} THEN 'small' "
            f"WHEN abs(`amount`) < {medium} THEN 'medium' "
            f"WHEN abs(`amount`) < {large} THEN 'large' "
            "ELSE 'very_large' END"
        )
        out["amount_abs"] = "abs(`amount`)"  # R10
    if "date" in cols:
        out["day_of_week"] = "date_format(`date`, 'EEEE')"  # R11
        out["month"] = "month(`date`)"  # R12
        out["year"] = "year(`date`)"  # R13

    for c in TEXT_COLUMNS:  # R14 trim + title-case
        if c in cols:
            cleaned = f"initcap(trim({q(c)}))"
            if pandas_nan_compat:
                # pandas astype(str).str.title() renders NaN as 'Nan'
                cleaned = f"coalesce({cleaned}, 'Nan')"
            out[c] = cleaned
    return df.selectExpr(*(f"{e} AS {q(c)}" for c, e in out.items()))


# --- Sinks (R16, R21, R22) --------------------------------------------------


def _write_manifest(
    path: str,
    record_count: int,
    source_file: str | None,
    stage: str,
) -> None:
    """R16 object-metadata sidecar: the reference attaches
    ``{original_file, processed_timestamp, record_count,
    processing_stage}`` to every S3 put (`lambda_function.py:293-298`,
    ` s3_uploader.py:132-136`). Object metadata has no HDFS/posix
    analog, so SURVEY R16 maps it to a ``_manifest.json`` file inside
    the output directory — same fields, readable by any downstream
    consumer next to Spark's own ``_SUCCESS`` marker."""
    import json

    manifest = {
        "original_file": source_file,
        "processed_timestamp": datetime.datetime.now(datetime.timezone.utc)
        .isoformat(),
        "record_count": int(record_count),
        "processing_stage": stage,
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)


def _sink(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: tuple[str, ...],
    source_file: str | None,
    stage: str,
    **options,
) -> None:
    """Overwrite ``path`` with ``df`` in format ``fmt``, then write the
    R16 sidecar. ``record_count`` is observed inside the write's own
    job; ``df.count()`` after the write would re-run the source and the
    transform in two more jobs."""
    obs = Observation()
    w = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.options(**options).format(fmt).save(path)
    _write_manifest(path, obs.get["rows"], source_file, stage)


def write_json(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    source_file: str | None = None,
    stage: str = "transformed",
) -> None:
    """R16/R22 JSON sink. Spark writes JSON-lines shards; the reference's
    records-orient single file (`lambda_function.py:285`) is the
    concatenation — acceptable per SURVEY §2A. A ``_manifest.json``
    sidecar carries the reference's object metadata."""
    _sink(df, path, "json", partition_by, source_file, stage)


def write_csv(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    source_file: str | None = None,
    stage: str = "transformed",
) -> None:
    """R21 partitioned CSV sink (` s3_uploader.py:97-143` key layout ->
    native Hive partitioning, which — unlike the reference — Spark also
    prunes on read). Writes the R16 ``_manifest.json`` sidecar."""
    _sink(df, path, "csv", partition_by, source_file, stage, header=True)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    source_file: str | None = None,
    stage: str = "transformed",
) -> None:
    """Parquet sink (README.md:310 lists parquet as the intended
    extension; it is the engine default for analytic storage). Writes
    the R16 ``_manifest.json`` sidecar."""
    _sink(df, path, "parquet", partition_by, source_file, stage)


def run_pipeline(
    df: DataFrame,
    json_path: str | None = None,
    upsert_target: str | None = None,
) -> DataFrame:
    """R18 conditional sink dispatch: the reference gates the warehouse
    load on env config (`lambda_function.py:170-173`); here sink
    selection is explicit plan-build-time configuration. Both sinks get
    one R7 stamp, like the reference's single ``datetime.now()``
    (`lambda_function.py:122`): they run as two queries, and
    ``current_timestamp()`` is evaluated once per query. The stamp is
    cut to the JSON sink's millisecond precision, so the two sinks hold
    equal values."""
    now = datetime.datetime.now(datetime.timezone.utc)
    now = now.replace(microsecond=now.microsecond // 1000 * 1000)
    out = transform_transactions(df).withColumn("processed_timestamp", F.lit(now))
    if upsert_target is not None:
        from .upsert import merge_into_parquet

        merge_into_parquet(out, upsert_target, key="transaction_id")
    if json_path is not None:
        write_json(out, json_path)
    return out


# --- Named queries (driver correctness gate) --------------------------------

def events_as_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events -> transaction-shaped mapping used by the flagship query: a
    deterministic projection so the DuckDB oracle can reproduce it. Every
    97th event gets a null amount to exercise the R3 drop filter."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("transaction_id"),
        F.col("ts").cast("date").cast("string").alias("date"),
        F.when(F.col("event_id") % 97 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("amount"),
        F.col("event_type").alias("category"),
        F.concat(F.lit("  evt "), F.col("event_type"), F.lit(" ")).alias("description"),
        F.element_at(
            F.array(
                *[
                    F.lit(s)
                    for s in ("online", "new york", "los angeles", "chicago", "houston")
                ]
            ),
            (F.col("user_id") % 5 + 1).cast("int"),
        ).alias("location"),
    )


_FLAGSHIP_ORACLE = """
WITH txn AS (
  SELECT
    event_id::VARCHAR                       AS transaction_id,
    (ts::DATE)::VARCHAR                     AS date,
    CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS amount,
    event_type                              AS category,
    '  evt ' || event_type || ' '           AS description,
    ['online','new york','los angeles','chicago','houston'][(user_id % 5 + 1)::INT] AS location
  FROM events
)
SELECT
  transaction_id,
  amount,
  abs(amount)                                   AS amount_abs,
  CASE WHEN amount IS NULL THEN 'unknown'
       WHEN abs(amount) < 25  THEN 'small'
       WHEN abs(amount) < 100 THEN 'medium'
       WHEN abs(amount) < 500 THEN 'large'
       ELSE 'very_large' END                    AS amount_category,
  array_to_string(list_transform(string_split(trim(category), ' '),
                  w -> upper(w[1]) || lower(w[2:])), ' ')    AS category,
  array_to_string(list_transform(string_split(trim(description), ' '),
                  w -> upper(w[1]) || lower(w[2:])), ' ')    AS description,
  array_to_string(list_transform(string_split(trim(location), ' '),
                  w -> upper(w[1]) || lower(w[2:])), ' ')    AS location,
  dayname(date::DATE)                           AS day_of_week,
  month(date::DATE)::BIGINT                     AS month,
  year(date::DATE)::BIGINT                      AS year,
  'lambda-etl-pipeline'                         AS processed_by
FROM txn
WHERE transaction_id IS NOT NULL AND amount IS NOT NULL
"""


@query("etl_flagship", oracle=_FLAGSHIP_ORACLE)
def etl_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's composite pipeline (R1->R14, `lambda_function.py:40-50`)
    over the events table mapped to the transaction schema."""
    txn = events_as_transactions(spark, sf_dir)
    out = transform_transactions(txn, stamp_processing_time=False)
    return out.select(
        "transaction_id",
        "amount",
        "amount_abs",
        "amount_category",
        "category",
        "description",
        "location",
        "day_of_week",
        F.col("month").cast("long").alias("month"),
        F.col("year").cast("long").alias("year"),
        "processed_by",
    )


@query(
    "etl_bucketize_histogram",
    oracle="""
SELECT CASE WHEN value IS NULL THEN 'unknown'
            WHEN abs(value) < 25  THEN 'small'
            WHEN abs(value) < 100 THEN 'medium'
            WHEN abs(value) < 500 THEN 'large'
            ELSE 'very_large' END AS amount_category,
       count(*)::BIGINT AS n,
       round(sum(abs(value)), 2) AS total_abs
FROM events
GROUP BY 1
""",
)
def etl_bucketize_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9+R10 as an aggregation: bucket counts over the CASE expression."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(amount_category_expr(F.col("value")).alias("amount_category"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.abs("value")), 2).alias("total_abs"),
        )
    )


@query(
    "etl_dropna_required",
    oracle="""
SELECT count(*)::BIGINT AS kept,
       (SELECT count(*) FROM events)::BIGINT - count(*)::BIGINT AS dropped
FROM (
  SELECT CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS amount
  FROM events
) WHERE amount IS NOT NULL
""",
)
def etl_dropna_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 drop-null filter with the removed-row accounting the reference
    logs (`lambda_function.py:107-109`)."""
    txn = events_as_transactions(spark, sf_dir)
    total = txn.count()
    kept_df = txn.na.drop(subset=["transaction_id", "amount"])
    return kept_df.agg(
        F.count(F.lit(1)).alias("kept"),
        (F.lit(total) - F.count(F.lit(1))).cast("long").alias("dropped"),
    )


@query(
    "etl_winsorize",
    oracle="""
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.01) AS lo,
         quantile_cont(o_totalprice, 0.99) AS hi
  FROM orders
)
SELECT o_orderkey,
       round(o_totalprice, 2) AS price,
       round(least(greatest(o_totalprice, b.lo), b.hi), 6) AS winsorized,
       (o_totalprice < b.lo OR o_totalprice > b.hi) AS clipped
FROM orders CROSS JOIN b
""",
)
def etl_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the standard outlier treatment for numeric ETL
    (clip to the exact p1/p99 instead of dropping rows, preserving
    row count and rank order while bounding the influence of tails):
    one exact-percentile aggregation produces a 1-row bounds relation,
    broadcast back over the table for a per-row least/greatest clip.
    Emits the original and clipped value plus the clip flag so the
    treatment is auditable row-by-row.

    100 TB shape: the bounds pass uses the same percentile machinery
    as agg_percentile_exact (swap in approx_percentile's mergeable
    KLL sketch for unbounded columns — identical plan shape); the
    clip itself is a scan-fused expression, zero extra shuffles."""
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.percentile("o_totalprice", F.lit(0.01)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("hi"),
    )
    p = F.col("o_totalprice")
    return o.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        F.round(p, 2).alias("price"),
        F.round(F.least(F.greatest(p, F.col("lo")), F.col("hi")), 6).alias(
            "winsorized"
        ),
        ((p < F.col("lo")) | (p > F.col("hi"))).alias("clipped"),
    )


#: range-bucket width for the two-pass dense-ID assignment.
SURROGATE_BUCKET = 4096


@query(
    "etl_dense_surrogate_ids",
    oracle="""
SELECT o_orderkey,
       row_number() OVER (ORDER BY o_orderkey)::BIGINT AS surrogate_id
FROM orders
""",
)
def etl_dense_surrogate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense gapless surrogate keys (1..N in natural-key order) WITHOUT
    the textbook global window — the warehouse dimension-key op, built
    the way it survives 100 TB.

    ``row_number() OVER (ORDER BY key)`` (the oracle's spelling, and
    what most engines execute) funnels the whole table through ONE
    partition. The scalable form here is the classic two-pass: bucket
    rows by key range, count per bucket (a bucket-count-sized
    aggregate), prefix-sum those counts into per-bucket offsets (a
    window over the TINY bucket relation), broadcast the offsets back,
    and emit offset + local row_number within the bucket — every stage
    is parallel, the only per-row window partitions by bucket. The
    result is value-identical to the single-partition window, which is
    exactly what the oracle checks. Plan-asserted: no SinglePartition
    exchange carries the orders table (tests/test_etl.py).
    """
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    b = orders.withColumn(
        "bucket", F.floor(F.col("o_orderkey") / SURROGATE_BUCKET)
    )
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = counts.select(
        "bucket",
        (
            F.sum("cnt").over(
                # global-ok: bucket-count relation (~n/SURROGATE_BUCKET rows)
                W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
            )
        ).alias("offset"),
    ).fillna({"offset": 0})
    local = F.row_number().over(
        W.partitionBy("bucket").orderBy("o_orderkey")
    )
    return (
        b.join(F.broadcast(offsets), "bucket")
        .select(
            "o_orderkey",
            (F.col("offset") + local).cast("long").alias("surrogate_id"),
        )
    )


@query(
    "etl_partition_checksums",
    oracle="""
WITH canon AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS part_year,
         ('0x' || substr(md5(concat_ws(chr(31),
             coalesce(CAST(o_orderkey AS VARCHAR), chr(1) || 'NULL'),
             coalesce(CAST(o_custkey AS VARCHAR), chr(1) || 'NULL'),
             coalesce(CAST(o_orderstatus AS VARCHAR), chr(1) || 'NULL'),
             coalesce(CAST(CAST(round(CAST(o_totalprice AS DOUBLE) * 1000000, 0)
                                AS BIGINT) AS VARCHAR), chr(1) || 'NULL'),
             coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), chr(1) || 'NULL')
         )), 1, 15))::BIGINT AS rh
  FROM orders
)
SELECT part_year, count(*)::BIGINT AS n_rows,
       CAST(sum(CAST(rh AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM canon GROUP BY part_year
""",
)
def etl_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition content checksums for cross-store reconciliation:
    each calendar-year partition of `orders` reduces to (n_rows,
    checksum) where the checksum is the SUM of per-row 60-bit hashes
    — the incremental, ORDER-INSENSITIVE fingerprint a 100 TB
    replication pipeline compares source-vs-target per partition
    before trusting a sync (and can UPDATE under row adds/deletes by
    adding/subtracting row hashes, which a concatenation digest
    cannot). Row canonicalization is the suite-digest discipline
    (operators/suites.py): type-stable strings, float -> exact
    BIGINT micros, timestamp -> epoch micros, NULL sentinel, chr(31)
    separator; the 15-hex-digit md5 prefix parses identically via
    Spark conv(,16,10) and DuckDB's 0x cast, and the sum rides
    DECIMAL(38,0) so it is exact and partition-merge-order-free.
    ONE map-side-combinable pass: hash and sum fuse into the scan —
    no sort, no window, no state beyond one accumulator per
    partition."""
    o = load_table(spark, sf_dir, "orders")
    sep = "\x1f"
    null_s = F.lit("\x01NULL")
    parts = [
        F.coalesce(F.col("o_orderkey").cast("string"), null_s),
        F.coalesce(F.col("o_custkey").cast("string"), null_s),
        F.coalesce(F.col("o_orderstatus").cast("string"), null_s),
        F.coalesce(
            F.round(F.col("o_totalprice").cast("double") * 1000000, 0)
            .cast("bigint")
            .cast("string"),
            null_s,
        ),
        F.coalesce(
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).cast("string"),
            null_s,
        ),
    ]
    rh = F.conv(F.substring(F.md5(F.concat_ws(sep, *parts)), 1, 15), 16, 10)
    return (
        o.select(
            F.year("o_orderdate").cast("long").alias("part_year"),
            rh.cast("decimal(38,0)").alias("rh"),
        )
        .groupBy("part_year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("rh").cast("decimal(38,0)").cast("string").alias("checksum"),
        )
    )


PSEUDO_SALT = "pseud42"  # rotation-controlled salt (a secret in prod)


@query(
    "etl_pseudonymize_keys",
    oracle=f"""
WITH c AS (
  SELECT substr(md5('{PSEUDO_SALT}:' || c_custkey), 1, 16) AS pseud,
         c_custkey
  FROM customer
),
o AS (
  SELECT substr(md5('{PSEUDO_SALT}:' || o_custkey), 1, 16) AS pseud,
         o_custkey, o_totalprice
  FROM orders
)
SELECT c.pseud AS customer_pseudonym,
       count(o.o_custkey)::BIGINT AS n_orders,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_spend,
       count(DISTINCT o.o_custkey)::BIGINT = 1 OR count(o.o_custkey) = 0
         AS referentially_consistent
FROM c LEFT JOIN o ON c.pseud = o.pseud
GROUP BY c.pseud
""",
)
def etl_pseudonymize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization with referential consistency: natural
    customer keys are replaced by a salted-hash pseudonym in BOTH the
    dimension and the fact table, and the join is re-run ON THE
    PSEUDONYMS — the GDPR-style tokenization pattern where analytics
    keep working after the identifier vault is locked away. The
    ``referentially_consistent`` verdict pins the property that makes
    pseudonymization usable at all: each pseudonym gathers exactly one
    source key's rows (salted md5 at 64 bits has no collisions at any
    plausible customer cardinality; a collision would flip the verdict
    AND the hash). In production the salt is a managed secret and
    rotation re-keys the lake; the plan — hash projections on both
    scan sides, one equi-join on the pseudonym — is unchanged.

    One shuffle on the 16-hex-char pseudonym; no raw key survives into
    the output."""
    c = load_table(spark, sf_dir, "customer").select(
        F.substring(
            F.md5(F.concat(F.lit(f"{PSEUDO_SALT}:"), F.col("c_custkey").cast("string"))),
            1,
            16,
        ).alias("pseud"),
        "c_custkey",
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.substring(
            F.md5(F.concat(F.lit(f"{PSEUDO_SALT}:"), F.col("o_custkey").cast("string"))),
            1,
            16,
        ).alias("pseud"),
        "o_custkey",
        "o_totalprice",
    )
    return (
        c.join(o, "pseud", "left")
        .groupBy("pseud")
        .agg(
            F.count("o_custkey").cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("total_spend"),
            (
                (F.countDistinct("o_custkey") == 1)
                | (F.count("o_custkey") == 0)
            ).alias("referentially_consistent"),
        )
        .select(
            F.col("pseud").alias("customer_pseudonym"),
            "n_orders",
            "total_spend",
            "referentially_consistent",
        )
    )
