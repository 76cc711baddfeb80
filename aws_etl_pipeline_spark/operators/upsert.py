"""Upsert / MERGE sink (reference R17, `lambda_function.py:176-271`).

The reference upserts row-at-a-time into Redshift with
``INSERT ... ON CONFLICT (transaction_id) DO UPDATE SET amount,
processed_timestamp`` (`lambda_function.py:226-235`). The Spark-native
equivalent is a set-based MERGE: with Delta/Iceberg on the cluster
that's ``MERGE INTO`` (one shuffle, ACID); this environment has no
lakehouse jars, so ``merge_upsert`` implements the same semantics as a
pure DataFrame plan. A full-row replace (every target column comes
from the source and is updated on a match, the R17 landing) is a left
anti join of the target against the batch's keys plus the batch: the
keys are broadcast under Spark's own size rule and the target is
never shuffled. A partial update (the reference's ``DO UPDATE SET``
column list) is a full outer join on the key with a per-column
choice. ``merge_into_parquet`` lands either on a parquet target through
``staging.fold``: the merged generation is written beside the target
and swapped in, so a failed landing leaves the previous rows in place.
Replay of the same batch is idempotent — verified in
tests/test_upsert.py.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import staging
from ..catalog import load_table
from ..registry import query

_DELTA_AVAILABLE = False
try:  # pragma: no cover - not in this image
    from delta.tables import DeltaTable  # type: ignore # noqa: F401

    _DELTA_AVAILABLE = True
except ImportError:
    pass


_TARGET_ROW = "__merge_target_row"


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    update_cols: tuple[str, ...] | None = None,
    best_effort: bool = False,
) -> DataFrame:
    """MERGE semantics of R17: matched rows take ``update_cols`` from the
    source (all source columns by default), unmatched source rows are
    inserted whole, unmatched target rows are kept. The key must be
    unique per side (it is the PK, `lambda_function.py:199`).

    Full-row replace — every target column is a source column and
    every non-key target column is in ``update_cols`` — is a matched
    target row dropped and its source row inserted:
    ``target LEFT ANTI JOIN source keys UNION source``. The keys are
    broadcast when they fit ``spark.sql.autoBroadcastJoinThreshold``
    (above it Spark plans a sort-merge anti join, same rows), so the
    target is read once and not shuffled, and the plan builds in a
    few JVM calls. NULL keys never match, so a NULL-key source row is
    inserted and a NULL-key target row kept, as in the outer join;
    duplicate source keys each land, as in the outer join.

    A partial update (a target column the source lacks, or one left
    out of ``update_cols``) is one full-outer shuffle join on the key
    with a per-column choice — the plan a MERGE INTO compiles to.

    Match is decided on key presence, not value presence: a matched
    source row carrying an explicit NULL in an update column *does*
    overwrite the target value with NULL, exactly like ``ON CONFLICT DO
    UPDATE SET c = EXCLUDED.c`` (a plain per-column coalesce would
    silently keep the stale target value).

    ``best_effort`` mirrors the reference's per-row insert tolerance
    (`lambda_function.py:258-260`: a failing row is logged and skipped,
    the batch continues): source rows that could not be inserted — NULL
    primary key, or a duplicate key within the batch (the PK constraint
    would reject the second insert) — are dropped instead of failing
    the whole merge; last-writer-wins within the batch matches the
    reference's sequential loop, made deterministic by ordering on the
    row's own content.
    """
    cols = target.columns
    source_cols = source.columns
    update_cols = update_cols or tuple(c for c in source_cols if c != key)
    if best_effort:
        source = _dedup_last_writer(source.filter(F.col(key).isNotNull()), key)
    if set(cols) <= set(source_cols) and set(cols) - {key} <= set(update_cols):
        kept = target.join(source.select(key), key, "left_anti")
        return kept.unionByName(source.select(*cols))
    # a target row is told apart from a missing one by a flag, not by
    # its key, so a NULL-key target row is kept rather than nulled
    t = target.select("*", F.lit(True).alias(_TARGET_ROW)).alias("t")
    s = source.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    inserted = F.col(f"t.{_TARGET_ROW}").isNull()
    matched = F.col(f"s.{key}").isNotNull() & F.col(f"t.{key}").isNotNull()
    out_cols = []
    for c in cols:
        if c == key:
            out_cols.append(F.coalesce(F.col(f"t.{key}"), F.col(f"s.{key}")).alias(key))
        elif c in source_cols:
            sc, tc = F.col(f"s.{c}"), F.col(f"t.{c}")
            if c in update_cols:
                expr = F.when(inserted | matched, sc).otherwise(tc)
            else:
                expr = F.when(inserted, sc).otherwise(tc)
            out_cols.append(expr.alias(c))
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    return joined.select(*out_cols)


def _dedup_last_writer(source: DataFrame, key: str) -> DataFrame:
    """Collapse duplicate-key rows within a batch to one row per key
    (deterministic last-writer-wins, ordered on the row's own content —
    the same policy ``merge_upsert(best_effort=True)`` applies). Delta's
    MERGE rejects batches where multiple source rows match one target
    row, and the reference's sequential ON CONFLICT loop silently
    last-writes instead; pre-collapsing reproduces the tolerant
    behavior set-based."""
    order_cols = [F.col(c).desc_nulls_last() for c in source.columns if c != key]
    w = Window.partitionBy(key).orderBy(*order_cols)
    return (
        source.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_into_parquet(source: DataFrame, path: str, key: str) -> None:
    """MERGE ``source`` into the parquet target at ``path`` on ``key``
    (``merge_upsert``'s policy); a missing target starts as ``source``.
    The target is replaced whole by ``staging.fold``: the merge is
    written to a new generation and renamed into place, so ``source``
    may read ``path`` and a failed write loses no landed row. A target
    written by plain Spark, without the staging marker, is merged
    into like any other."""

    def step(target: DataFrame | None) -> DataFrame:
        return source if target is None else merge_upsert(target, source, key)

    staging.fold(source.sparkSession, path, step)


def merge_into_delta(
    source: DataFrame,
    path: str,
    key: str,
    update_cols: tuple[str, ...] | None = None,
) -> None:
    """Lakehouse execution path for R17: a real transactional
    ``MERGE INTO`` against a Delta table (`lambda_function.py:224-260`
    re-expressed as one set-based ACID merge instead of a per-row
    ON CONFLICT loop). Mirrors `merge_into_jdbc`'s column policy:
    matched rows take ``update_cols`` (all non-key source columns by
    default), unmatched source rows are inserted whole.

    Duplicate source keys within one batch are collapsed first
    (deterministic last-writer-wins): Delta MERGE would otherwise raise
    "multiple source rows matched", and the initial-load branch would
    write the duplicates verbatim, making a replay of the same batch
    fail. The reference's per-row ON CONFLICT loop tolerates duplicates
    by last-write; the collapse reproduces that set-based.

    Requires delta-spark (not in this container — the gated
    tests/test_delta_merge.py executes this end-to-end, idempotent
    replay included, wherever the package exists; here it skips)."""
    if not _DELTA_AVAILABLE:
        raise RuntimeError(
            "delta-spark is not importable; merge_into_delta needs the "
            "Delta Lake runtime (pip package delta-spark + its jars)"
        )
    spark = source.sparkSession
    source = _dedup_last_writer(source.filter(F.col(key).isNotNull()), key)
    if not DeltaTable.isDeltaTable(spark, path):
        source.write.format("delta").save(path)
        return
    update_cols = update_cols or tuple(c for c in source.columns if c != key)
    tgt = DeltaTable.forPath(spark, path)
    (
        tgt.alias("t")
        .merge(source.alias("s"), f"t.{key} = s.{key}")
        .whenMatchedUpdate(set={c: f"s.{c}" for c in update_cols})
        .whenNotMatchedInsertAll()
        .execute()
    )


@query(
    "upsert_merge",
    oracle="""
WITH base AS (
  SELECT event_id, value, event_type FROM events WHERE event_id % 2 = 0
),
delta AS (
  SELECT event_id, value * 2 AS value, event_type FROM events WHERE event_id % 3 = 0
)
SELECT coalesce(t.event_id, s.event_id) AS event_id,
       CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value,
       CASE WHEN s.event_id IS NOT NULL THEN s.event_type ELSE t.event_type END
         AS event_type
FROM base t FULL OUTER JOIN delta s ON t.event_id = s.event_id
""",
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17 upsert as a deterministic query: merge a 'delta' batch
    (every 3rd event, doubled value) into a 'base' snapshot (every 2nd
    event); matched keys take the delta value, new keys are inserted."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    base = ev.filter(F.col("event_id") % 2 == 0)
    delta = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") * 2
    )
    return merge_upsert(base, delta, key="event_id")


@query(
    "upsert_reference_policy",
    oracle="""
WITH base AS (
  SELECT event_id, value,
         event_type,
         TIMESTAMP '2024-01-01 00:00:00' AS processed_ts
  FROM events WHERE event_id % 2 = 0
),
delta AS (
  SELECT event_id, value * 2 AS value,
         'UPDATED' AS event_type,
         TIMESTAMP '2024-06-01 12:00:00' AS processed_ts
  FROM events WHERE event_id % 3 = 0
)
SELECT coalesce(t.event_id, s.event_id) AS event_id,
       CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value,
       CASE WHEN t.event_id IS NULL THEN s.event_type ELSE t.event_type END
         AS event_type,
       CASE WHEN s.event_id IS NOT NULL THEN s.processed_ts ELSE t.processed_ts END
         AS processed_ts
FROM base t FULL OUTER JOIN delta s ON t.event_id = s.event_id
""",
)
def upsert_reference_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17 with the reference's exact conflict policy pinned: ``ON
    CONFLICT (pk) DO UPDATE SET amount = EXCLUDED.amount,
    processed_timestamp = EXCLUDED.processed_timestamp``
    (`lambda_function.py:226-235`) — on a match ONLY the amount-like
    and processed-timestamp columns are refreshed; every other column
    keeps the target's value (here: delta rows carry event_type
    'UPDATED', which must NOT appear on matched keys). Unmatched delta
    rows are inserted whole; ``best_effort`` drops NULL-key rows like
    the reference's per-row tolerance loop."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    base = ev.filter(F.col("event_id") % 2 == 0).withColumn(
        "processed_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    delta = (
        ev.filter(F.col("event_id") % 3 == 0)
        .withColumn("value", F.col("value") * 2)
        .withColumn("event_type", F.lit("UPDATED"))
        .withColumn("processed_ts", F.to_timestamp(F.lit("2024-06-01 12:00:00")))
    )
    return merge_upsert(
        base,
        delta,
        key="event_id",
        update_cols=("value", "processed_ts"),
        best_effort=True,
    )


# ----------------------------------------------------------- JDBC warehouse
def _qident(name: str) -> str:
    """ANSI-quote an identifier (doubling embedded quotes)."""
    return '"' + name.replace('"', '""') + '"'


def staging_merge_sql(table: str, staging: str, key: str, cols: list[str],
                      update_cols: tuple[str, ...] | None = None,
                      quote_target: bool = False) -> str:
    """SQL executed against the warehouse after the staging load: a
    single set-based MERGE from the staging table — the scalable
    re-expression of the reference's row-at-a-time ``INSERT ... ON
    CONFLICT DO UPDATE`` loop (`lambda_function.py:224-260`; at 100 TB
    the per-row round-trip is the bottleneck, one MERGE is not).

    Identifier case: Spark's JDBC writer QUOTES column names when it
    creates the staging table, so staging columns keep the DataFrame's
    exact case — on engines that fold unquoted identifiers to
    uppercase (Derby, Oracle, DB2) an unquoted ``s.value`` would
    resolve to ``S.VALUE`` and miss a quoted lowercase staging column.
    Staging-side references are therefore quoted with the DataFrame's
    case; target-side references default to UNQUOTED, which is correct
    iff the target table was created with unquoted DDL (identifiers
    fold to the engine's canonical case on both sides of the
    comparison). PRECONDITION: with the default ``quote_target=False``
    the target must have been created with unquoted DDL — a target
    created by Spark's own JDBC writer (which quotes, preserving
    lowercase) on a case-folding engine needs ``quote_target=True`` so
    ``t.key`` / UPDATE SET / INSERT column refs resolve to the quoted
    lowercase names instead of folding to uppercase and missing.
    ``key`` and ``update_cols`` must use the DataFrame's column case."""
    tq = _qident if quote_target else (lambda c: c)
    update_cols = update_cols or tuple(c for c in cols if c != key)
    sets = ", ".join(f"{tq(c)} = s.{_qident(c)}" for c in update_cols)
    collist = ", ".join(tq(c) for c in cols)
    vals = ", ".join(f"s.{_qident(c)}" for c in cols)
    return (
        f"MERGE INTO {table} t USING {staging} s ON t.{tq(key)} = s.{_qident(key)} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({vals})"
    )


def _staging_name(table: str) -> str:
    """Derive a valid UNQUOTED staging identifier from any target name.

    Quotes in a quoted target must not leak into the staging identifier
    (`"txn5"_staging_x` is not a valid name) — and neither must the
    characters those quotes were protecting: a schema-qualified
    `"my schema"."txn"` seeds from its LAST segment only, and spaces /
    dashes / anything non-identifier folds to '_', so the staging
    CREATE (Spark JDBC writer) and the MERGE's USING ref always see a
    plain identifier that case-folds consistently on both."""
    last_segment = table.replace(chr(34), "").split(".")[-1]
    safe = re.sub(r"[^A-Za-z0-9_]", "_", last_segment) or "t"
    return f"{safe}_staging_{uuid.uuid4().hex[:8]}"


def merge_into_jdbc(
    source: DataFrame,
    url: str,
    table: str,
    key: str,
    properties: dict[str, str] | None = None,
    update_cols: tuple[str, ...] | None = None,
    quote_target: bool = False,
) -> None:
    """Warehouse execution path for R17 (`lambda_function.py:176-271`):
    bulk-load the batch into a staging table with the parallel JDBC
    writer, then run ONE set-based MERGE on the warehouse side.

    Executed end-to-end in tests/test_jdbc_merge.py against the
    Derby database bundled in Spark's jars (embedded, ACID, MERGE INTO
    since 10.11): staging load, MERGE, idempotent replay, the
    reference's partial-update-cols conflict policy, and lowercase
    DataFrame columns against a case-folding target.

    The staging table gets a per-call random suffix (no clobbering of
    pre-existing tables, safe under concurrent batches) and is dropped
    best-effort after the MERGE, success or failure. Failures are
    phase-distinct: a staging-load error points at the driver/URL, a
    MERGE error carries the warehouse's own SQL error.

    ``quote_target=True`` is required when the TARGET table was itself
    created by Spark's JDBC writer (quoted, case-preserving DDL) on a
    case-folding engine — see staging_merge_sql's precondition."""
    staging = _staging_name(table)
    props = dict(properties or {})
    jvm = source.sparkSession._jvm  # noqa: SLF001
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)

    def _drop_staging() -> None:
        # best-effort: a half-created staging table (load failed
        # mid-insert, or the merge connection never came up) must not
        # accumulate in the warehouse across retries — each call uses a
        # fresh random suffix, so leaks would be permanent.
        try:
            c = jvm.java.sql.DriverManager.getConnection(url, jprops)
            try:
                st = c.createStatement()
                st.execute(f"DROP TABLE {staging}")
                st.close()
            finally:
                c.close()
        except Exception:  # noqa: BLE001 — cleanup must not mask the real error
            pass

    try:
        source.write.jdbc(url=url, table=staging, mode="errorifexists", properties=props)
    except Exception as e:
        _drop_staging()
        raise RuntimeError(
            f"JDBC staging load into {staging} at {url} failed — is a JDBC "
            f"driver for this URL on the classpath and the warehouse reachable? {e}"
        ) from e
    try:
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
        try:
            stmt = conn.createStatement()
            try:
                try:
                    stmt.execute(
                        staging_merge_sql(
                            table, staging, key, source.columns, update_cols,
                            quote_target=quote_target,
                        )
                    )
                except Exception as e:
                    raise RuntimeError(
                        f"warehouse MERGE from {staging} into {table} failed: {e}"
                    ) from e
            finally:
                try:
                    stmt.execute(f"DROP TABLE {staging}")
                except Exception:  # noqa: BLE001
                    pass
                stmt.close()
        finally:
            conn.close()
    except Exception:
        _drop_staging()  # no-op when the inner finally already dropped it
        raise


@query(
    "cdc_apply_changes",
    oracle="""
WITH base AS (
  SELECT event_id, value, event_type FROM events WHERE event_id % 2 = 0
),
feed AS (
  SELECT event_id,
         value * 2 AS value,
         event_type,
         CASE WHEN event_id % 9 = 0 THEN 'D'
              WHEN event_id % 2 = 0 THEN 'U' ELSE 'I' END AS op
  FROM events WHERE event_id % 3 = 0
)
SELECT coalesce(t.event_id, s.event_id) AS event_id,
       CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value,
       CASE WHEN s.event_id IS NOT NULL THEN s.event_type ELSE t.event_type END
         AS event_type
FROM base t FULL OUTER JOIN feed s ON t.event_id = s.event_id
WHERE coalesce(s.op, '') <> 'D'
""",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — the upsert sink extended to a full change feed with
    explicit ops: I(nsert) rows append, U(pdate) rows overwrite the
    matched key, D(elete) rows remove it (MERGE ... WHEN MATCHED AND
    op='D' THEN DELETE). One full-outer shuffle on the key, same plan
    family as merge_upsert; this is the shape a warehouse's continuous
    replication (Debezium/DMS-style feeds) compiles to. The feed here
    is derived deterministically from events (every 3rd event; of
    those, multiples of 9 delete, even ones update, odd ones
    insert)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    base = ev.filter(F.col("event_id") % 2 == 0)
    feed = (
        ev.filter(F.col("event_id") % 3 == 0)
        .withColumn("value", F.col("value") * 2)
        .withColumn(
            "op",
            F.when(F.col("event_id") % 9 == 0, "D")
            .when(F.col("event_id") % 2 == 0, "U")
            .otherwise("I"),
        )
    )
    t = base.alias("t")
    s = feed.alias("s")
    joined = t.join(s, F.col("t.event_id") == F.col("s.event_id"), "full_outer")
    in_feed = F.col("s.event_id").isNotNull()
    return (
        joined.filter(F.coalesce(F.col("s.op"), F.lit("")) != "D")
        .select(
            F.coalesce(F.col("t.event_id"), F.col("s.event_id")).alias("event_id"),
            F.when(in_feed, F.col("s.value")).otherwise(F.col("t.value")).alias(
                "value"
            ),
            F.when(in_feed, F.col("s.event_type"))
            .otherwise(F.col("t.event_type"))
            .alias("event_type"),
        )
    )


@query(
    "snapshot_diff",
    oracle="""
WITH a AS (
  SELECT event_id, value FROM events WHERE event_id % 2 = 0
),
b AS (
  SELECT event_id,
         CASE WHEN event_id % 10 = 0 THEN value + 1 ELSE value END AS value
  FROM events WHERE event_id % 2 = 0 AND event_id % 7 <> 0
  UNION ALL
  SELECT event_id, value FROM events WHERE event_id % 2 = 1 AND event_id % 11 = 0
)
SELECT CASE WHEN a.event_id IS NULL THEN 'added'
            WHEN b.event_id IS NULL THEN 'removed'
            WHEN a.value <> b.value THEN 'changed'
            ELSE 'unchanged' END AS diff_kind,
       count(*)::BIGINT AS n,
       min(coalesce(a.event_id, b.event_id))::BIGINT AS min_key,
       max(coalesce(a.event_id, b.event_id))::BIGINT AS max_key
FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
GROUP BY diff_kind
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table diff between two snapshots — the reconciliation /
    regression-audit primitive (did the backfill change what it
    shouldn't?): full-outer join on the key classifies every row as
    added / removed / changed / unchanged, reduced to per-class counts
    and key ranges. One shuffle; at 100 TB both sides pre-bucket on
    the key and the join is zero-exchange (scan_bucketed_join's
    layout). Snapshot B is derived deterministically from A: every
    7th key dropped, every 10th value bumped, some odd keys added."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    a = ev.filter(F.col("event_id") % 2 == 0).alias("a")
    b = (
        ev.filter((F.col("event_id") % 2 == 0) & (F.col("event_id") % 7 != 0))
        .withColumn(
            "value",
            F.when(F.col("event_id") % 10 == 0, F.col("value") + 1).otherwise(
                F.col("value")
            ),
        )
        .unionByName(
            ev.filter((F.col("event_id") % 2 == 1) & (F.col("event_id") % 11 == 0))
        )
        .alias("b")
    )
    joined = a.join(b, F.col("a.event_id") == F.col("b.event_id"), "full_outer")
    kind = (
        F.when(F.col("a.event_id").isNull(), "added")
        .when(F.col("b.event_id").isNull(), "removed")
        .when(F.col("a.value") != F.col("b.value"), "changed")
        .otherwise("unchanged")
    )
    key = F.coalesce(F.col("a.event_id"), F.col("b.event_id"))
    return (
        joined.select(kind.alias("diff_kind"), key.alias("k"))
        .groupBy("diff_kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").cast("long").alias("min_key"),
            F.max("k").cast("long").alias("max_key"),
        )
    )
