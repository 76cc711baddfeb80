"""Structured Streaming paths that the batch oracle can't verify:
file-source ingest (R19 analog), per-file micro-batching, and
watermark late-data semantics."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from aws_etl_pipeline_spark.generator import generate_transactions
from aws_etl_pipeline_spark.operators.etl import write_csv
from aws_etl_pipeline_spark.streaming.ingest import (
    run_pipeline_available_now,
    windowed_event_counts,
)


def test_file_ingest_available_now(spark, tmp_path):
    in_dir = str(tmp_path / "raw-data")
    # two "uploads" — two files, like two S3 ObjectCreated events
    generate_transactions(spark, 40, dt.date(2024, 3, 14), seed=1).coalesce(1).write.mode(
        "append"
    ).option("header", True).csv(in_dir)
    generate_transactions(spark, 35, dt.date(2024, 3, 15), seed=2).coalesce(1).write.mode(
        "append"
    ).option("header", True).csv(in_dir)

    out = run_pipeline_available_now(spark, in_dir, query_name="t_ingest")
    assert out.count() == 75
    # transform applied inside the stream
    assert "amount_category" in out.columns
    cats = {r.amount_category for r in out.select("amount_category").distinct().collect()}
    assert cats <= {"unknown", "small", "medium", "large", "very_large"}


def test_ingest_json_sink(spark, tmp_path):
    in_dir = str(tmp_path / "raw")
    out_dir = str(tmp_path / "processed")
    generate_transactions(spark, 20, seed=3).coalesce(1).write.mode("append").option(
        "header", True
    ).csv(in_dir)
    run_pipeline_available_now(spark, in_dir, json_out=out_dir, query_name="t_js")
    written = spark.read.json(f"{out_dir}/epoch=*")
    assert written.count() == 20


def _upload(spark, in_dir, n, day):
    """One "upload": a CSV file of ``n`` transactions dated March ``day``
    (transaction ids are unique within a date)."""
    generate_transactions(spark, n, dt.date(2024, 3, day), seed=day).coalesce(
        1
    ).write.mode("append").option("header", True).csv(in_dir)


def test_rerun_lands_only_new_files(spark, tmp_path):
    """The checkpoint makes a re-run over an unchanged dir land 0 rows
    in either sink, and a re-run after a new upload land only its rows."""
    in_dir = str(tmp_path / "raw")
    out_dir = str(tmp_path / "processed")
    target = str(tmp_path / "upsert")
    _upload(spark, in_dir, 20, day=14)

    def drain():
        assert run_pipeline_available_now(spark, in_dir, out_dir, target) is None
        return spark.read.json(out_dir).count(), spark.read.parquet(target).count()

    assert drain() == (20, 20)
    assert drain() == (20, 20)
    _upload(spark, in_dir, 15, day=15)
    assert drain() == (35, 35)
    assert spark.read.json(f"{out_dir}/epoch=1").count() == 15


def test_upsert_only_checkpoint_sits_beside_the_target(spark, tmp_path):
    in_dir = str(tmp_path / "raw")
    target = str(tmp_path / "upsert")
    _upload(spark, in_dir, 20, day=14)
    for _ in range(2):
        run_pipeline_available_now(spark, in_dir, upsert_path=target)
        assert spark.read.parquet(target).count() == 20
    assert os.path.isdir(target + ".checkpoint")
    assert not os.path.exists(os.path.join(target, "_checkpoint"))


def test_dual_sink_drain_parses_each_file_once(spark, tmp_path, caplog):
    """A landing into both sinks persists each micro-batch, so a 20-row
    file is read once: the drain counts 20 input rows, not 20 per
    sink."""
    import logging

    in_dir = str(tmp_path / "raw")
    _upload(spark, in_dir, 20, day=14)
    with caplog.at_level(logging.INFO):
        run_pipeline_available_now(
            spark, in_dir, str(tmp_path / "json"), str(tmp_path / "upsert")
        )
    (line,) = [
        r.getMessage()
        for r in caplog.records
        if r.getMessage().startswith("drain _fold_batch_fn.")
    ]
    assert " batches=1 rows=20 " in line


def _events_batch(spark, sf_dir):
    from aws_etl_pipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").limit(200)
    return ev.select("event_id", "user_id", "ts", "event_type", "value")


def _fold_case(spark, sf_dir, case: str):
    """``(step, batch, archived)``: the fold step, a micro-batch and
    whether the JSON archive is on, as each streaming target uses the
    one foreachBatch body."""
    from aws_etl_pipeline_spark.operators.etl import transform_transactions
    from aws_etl_pipeline_spark.streaming import ingest

    if case == "landing":  # the CLI watch: upsert + JSON archive
        # materialized, so both deliveries carry one processed_timestamp
        batch = transform_transactions(
            generate_transactions(spark, 30, dt.date(2024, 3, 14), seed=6)
        ).localCheckpoint()
        return ingest._upsert_step, batch, True
    latest = ingest._keep_latest(ingest._latest_per_user)
    if case == "dual_sink":  # stream_exec_upsert_json
        batch = _events_batch(spark, sf_dir).withColumn("value_abs", F.abs(F.col("value")))
        return latest, batch, True
    if case == "upsert":
        return latest, _events_batch(spark, sf_dir), False
    if case == "cdc":
        return ingest._keep_latest(ingest._cdc_changes), _events_batch(spark, sf_dir), False
    # as-of: facts (even ids) paired with every candidate (odd ids) of
    # the same user in the 6 hours before
    ev = _events_batch(spark, sf_dir)
    facts = ev.filter(F.col("event_id") % 2 == 0).selectExpr(
        "event_id AS evt_id", "ts AS evt_ts", "user_id AS evt_user"
    )
    cands = ev.filter(F.col("event_id") % 2 == 1).selectExpr(
        "event_id AS prior_id", "ts AS prior_ts", "user_id AS prior_user"
    )
    pairs = facts.join(
        cands,
        F.expr(
            "evt_user = prior_user AND "
            "prior_ts BETWEEN evt_ts - INTERVAL 6 HOURS AND evt_ts"
        ),
    )
    return ingest._keep_latest(ingest._best_per_fact), pairs, False


@pytest.mark.parametrize("case", ["landing", "dual_sink", "upsert", "cdc", "asof"])
def test_fold_batch_replay_is_idempotent(spark, sf_dir, tmp_path, case):
    """foreachBatch is at-least-once: re-delivering epoch 0 through the
    one fold body leaves the target and the JSON archive as they were —
    the archive because each epoch overwrites its own ``epoch=<id>``
    dir, the target because folding the same batch again is
    idempotent."""
    from aws_etl_pipeline_spark.streaming.ingest import _fold_batch_fn

    step, batch, archived = _fold_case(spark, sf_dir, case)
    json_dir = str(tmp_path / "json") if archived else None
    target = str(tmp_path / "target")
    fold = _fold_batch_fn(target, step, json_dir)

    def json_rows():
        return spark.read.json(json_dir).count() if archived else None

    def target_rows():
        return sorted(map(tuple, spark.read.parquet(target).collect()))

    fold(batch, 0)
    json_once, target_once = json_rows(), target_rows()
    fold(batch, 0)  # re-delivery of the same epoch
    assert json_rows() == json_once
    assert target_rows() == target_once
    if case == "landing":
        assert json_once == len(target_once) == 30
    elif case == "dual_sink":
        assert json_once == 200
        # a LATER batch with overlapping keys still advances the target
        fold(batch.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")), 1)
        assert spark.read.json(json_dir).count() == 400
        advanced = spark.read.parquet(target)
        assert advanced.count() == len(target_once)
    else:
        assert target_once


@pytest.mark.parametrize("session_partitions, state_partitions", [(16, 4), (4, 4), (2, 2)])
def test_drain_starts_with_min_of_session_cores_and_8_state_partitions(
    spark, tmp_path, caplog, session_partitions, state_partitions
):
    """A stateful drain runs min(session shuffle partitions, cores, 8)
    state partitions, and the session keeps its own value. The test
    session has 4 cores: at 16 session partitions the cores bind, at 2
    the session does."""
    import logging

    from aws_etl_pipeline_spark.streaming.ingest import _drain

    assert spark.sparkContext.defaultParallelism == 4
    src = str(tmp_path / "src")
    spark.range(100).union(spark.range(50)).write.parquet(src)
    deduped = spark.readStream.schema("id long").parquet(src).dropDuplicates(["id"])
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, str(session_partitions))
    try:
        with caplog.at_level(logging.INFO):
            out = _drain(deduped, f"t_parts_{session_partitions}")
        assert spark.conf.get(key) == str(session_partitions)
    finally:
        spark.conf.set(key, before)
    assert out.count() == 100
    (line,) = [
        r.getMessage()
        for r in caplog.records
        if r.getMessage().startswith(f"drain t_parts_{session_partitions} ")
    ]
    assert f" rows=150 state_partitions={state_partitions} " in line


@pytest.mark.parametrize(
    "session_partitions, cores, state_partitions",
    [(200, 32, 8), (32, 4, 4), (4, 2, 2), (2, 16, 2), (8, 8, 8)],
)
def test_state_partition_rule(session_partitions, cores, state_partitions):
    """The rule itself, where no test session can reach: 8 binds on a
    many-core session, the cores on a small host, the session value
    when it is smallest."""
    from aws_etl_pipeline_spark.streaming.ingest import _state_partitions

    assert _state_partitions(session_partitions, cores) == state_partitions


def test_drain_without_no_data_batch(spark, tmp_path, caplog):
    """A dedup drain that skips the trailing no-data batch runs one
    micro-batch per file, returns the rows of a drain that runs it, and
    leaves the session conf as it was."""
    import logging

    from aws_etl_pipeline_spark.streaming.ingest import _drain

    src = str(tmp_path / "src")
    for i in range(3):  # each file repeats half of the previous one
        spark.range(i * 50, i * 50 + 100).withColumn(
            "ts", F.timestamp_seconds(F.col("id") * 60 + 60)
        ).coalesce(1).write.mode("append").parquet(src)
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)

    def drain(name: str, skip: bool):
        stream = (
            spark.readStream.schema("id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["id"])
        )
        with caplog.at_level(logging.INFO):
            rows = sorted(_drain(stream, name, skip_no_data_batch=skip).collect())
        assert spark.conf.get(key) == before
        (line,) = [
            r.getMessage()
            for r in caplog.records
            if r.getMessage().startswith(f"drain {name} ")
        ]
        return rows, int(line.split(" batches=")[1].split()[0])

    skipped, skipped_batches = drain("t_no_data_skipped", True)
    full, full_batches = drain("t_no_data_run", False)
    assert skipped_batches == 3
    assert full_batches == 4
    assert skipped == full
    assert [r.id for r in skipped] == list(range(200))


def test_drain_guard_stops_a_hung_stream(spark, tmp_path, monkeypatch):
    """A drain past $SPARK_GRAFT_STREAM_DRAIN_S raises TimeoutError naming
    the query and leaves no stream running."""
    import time

    from aws_etl_pipeline_spark.streaming.ingest import _drain

    monkeypatch.setenv("SPARK_GRAFT_STREAM_DRAIN_S", "1")
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)

    def slow_sink(batch_df, epoch_id):
        time.sleep(4)

    with pytest.raises(TimeoutError, match="slow_sink.*within 1s"):
        _drain(spark.readStream.schema("id long").parquet(src), slow_sink)
    assert spark.streams.active == []


def test_watermark_drops_late_rows(spark):
    # Craft a stream where a row arrives 2 hours late -> beyond the
    # 1-hour watermark -> dropped from the aggregation.
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 10, "click", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=30), 10, "click", 1.0, "{}"),
        (3, base + dt.timedelta(hours=3), 10, "click", 1.0, "{}"),  # advances watermark
        (4, base - dt.timedelta(hours=2), 10, "click", 1.0, "{}"),  # late -> dropped
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    from pyspark.sql.functions import col

    # memory-rate trick: feed rows in two micro-batches via a file source
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        # batch boundaries made explicit: write -> drain -> write -> drain,
        # so the watermark from batch 1 (15:00 - 1h = 14:00) is in force
        # when the late 10:00 row arrives in batch 2
        spark.createDataFrame(rows[:3], schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        stream = spark.readStream.schema(schema).parquet(d)
        agg = windowed_event_counts(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("t_wm")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        spark.createDataFrame(rows[3:], schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        q.processAllAvailable()
        q.stop()
        out = spark.table("t_wm").collect()
    # the late row's window (10:00) must not appear with its count,
    # and the on-time windows close once the watermark passes them
    starts = {r.window_start for r in out}
    assert dt.datetime(2024, 1, 1, 10, 0) not in starts
    assert dt.datetime(2024, 1, 1, 12, 0) in starts


def test_cdc_tombstone_blocks_resurrection(spark, tmp_path):
    """A DELETE in an early micro-batch must suppress an
    OLDER-timestamped upsert arriving in a LATER batch — the reason
    tombstones are retained state, not applied-and-dropped."""
    import datetime as dt

    from pyspark.sql import Row

    from aws_etl_pipeline_spark.streaming.ingest import (
        _cdc_changes,
        _fold_batch_fn,
        _keep_latest,
    )

    target = str(tmp_path / "cdc_target")
    merge = _fold_batch_fn(target, _keep_latest(_cdc_changes))

    def ev(eid, uid, ts, typ, val):
        return Row(
            event_id=eid, ts=ts, user_id=uid, event_type=typ,
            value=val, props="{}",
        )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    # batch 0: user 1 deleted at t0+10; user 2 upserted
    merge(
        spark.createDataFrame(
            [
                ev(100, 1, t0 + dt.timedelta(minutes=10), "error", None),
                ev(101, 2, t0, "view", 5.0),
            ]
        ),
        0,
    )
    # batch 1 (out-of-order): STALE upsert for user 1 at t0 — must NOT
    # resurrect; fresher upsert for user 2
    merge(
        spark.createDataFrame(
            [
                ev(50, 1, t0, "purchase", 99.0),
                ev(102, 2, t0 + dt.timedelta(minutes=5), "click", 7.0),
            ]
        ),
        1,
    )
    from pyspark.sql import functions as F

    state = spark.read.parquet(target)
    live = {r.user_id: r for r in state.where(F.col("op") == "U").collect()}
    assert 1 not in live  # tombstone held
    assert live[2].last_value == 7.0
    # the tombstone itself is retained as state
    dead = {r.user_id for r in state.where(F.col("op") == "D").collect()}
    assert dead == {1}
    # replay idempotence: re-delivering batch 1 changes nothing
    before = sorted(map(tuple, state.collect()))
    merge(
        spark.createDataFrame(
            [
                ev(50, 1, t0, "purchase", 99.0),
                ev(102, 2, t0 + dt.timedelta(minutes=5), "click", 7.0),
            ]
        ),
        2,
    )
    after = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert before == after


def test_stream_asof_join_semantics(spark, sf_dir):
    """The streaming as-of target must hold exactly one row per fact,
    each pairing a fact (even id) with an odd-id candidate of the same
    user inside the 6-hour lookback — and that candidate must be the
    LATEST such (the as-of contract). Cross-batch hash equality with
    the batch oracle is the driver's job; this pins the row shape."""
    from aws_etl_pipeline_spark.streaming.ingest import stream_exec_asof_join

    rows = stream_exec_asof_join(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["evt_id"] % 2 == 0 and r["prior_id"] % 2 == 1, r
        assert r["evt_id"] not in seen
        seen.add(r["evt_id"])
        delta = (r["evt_ts"] - r["prior_ts"]).total_seconds()
        assert 0 <= delta <= 6 * 3600, r


def test_stream_asof_watermarked_drop_set_is_exact(spark, sf_dir):
    """r12 (r11 verdict #3): the watermarked as-of twin's result must
    equal the batch as-of computed over the closed-form KEPT set —
    rows of the straggler quarter survive IFF ts >= min(max even ts,
    max odd ts) - 6h — and the fixture must actually exercise the
    drop (some quarter-1 rows fall below the threshold and at least
    one fact changes or loses its match vs the unwatermarked twin's
    input set)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from aws_etl_pipeline_spark.catalog import load_table
    from aws_etl_pipeline_spark.streaming.ingest import (
        stream_exec_asof_join_watermarked,
    )

    got = stream_exec_asof_join_watermarked(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(W.orderBy("ts", "event_id"))
    )
    wm = (
        ev.agg(
            F.least(
                F.max(F.when(F.col("event_id") % 2 == 0, F.col("ts"))),
                F.max(F.when(F.col("event_id") % 2 == 1, F.col("ts"))),
            ).alias("m")
        ).collect()[0]["m"]
    )
    import datetime as dt

    thresh = wm - dt.timedelta(hours=6)
    kept = sliced.filter(
        (F.col("slice") > 1) | (F.col("ts") >= F.lit(thresh))
    ).drop("slice")
    n_dropped = ev.count() - kept.count()
    assert n_dropped > 0, "fixture must exercise the late drop"

    facts = kept.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("evt_id"),
        F.col("ts").alias("evt_ts"),
        "user_id",
    )
    cands = kept.filter(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("prior_id"),
        F.col("ts").alias("prior_ts"),
        F.col("user_id").alias("c_user"),
    )
    w = W.partitionBy("evt_id").orderBy(
        F.col("prior_ts").desc(), F.col("prior_id").desc()
    )
    expect = (
        facts.join(
            cands,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("prior_ts") >= F.col("evt_ts") - F.expr("INTERVAL 6 HOURS"))
            & (F.col("prior_ts") <= F.col("evt_ts")),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("evt_id", "user_id", "evt_ts", "prior_id", "prior_ts")
    )
    got_set = {tuple(r) for r in got.collect()}
    exp_set = {tuple(r) for r in expect.collect()}
    assert got_set == exp_set, (
        f"{len(got_set - exp_set)} extra, {len(exp_set - got_set)} missing"
    )


def test_drain_line_splits_its_time_into_phases(spark, tmp_path, caplog):
    """A drain's line sums the ``durationMs`` phases of its micro-batches,
    which add up to no more than the drain, and reports the last batch's
    state rows and bytes."""
    import logging
    import re

    from aws_etl_pipeline_spark.streaming.ingest import _DRAIN_PHASES, _drain

    src = str(tmp_path / "src")
    spark.range(100).union(spark.range(50)).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
    )
    with caplog.at_level(logging.INFO):
        _drain(stream.dropDuplicates(["id"]), "t_phases", skip_no_data_batch=True)
    (line,) = [r.getMessage() for r in caplog.records if r.getMessage().startswith("drain t_phases ")]
    fields = dict(re.findall(r" (\w+)=(\d+)", line))
    total_ms = float(re.search(r" (\d+) ms$", line).group(1))
    phases = [int(fields[k]) for k in _DRAIN_PHASES]
    assert fields["batches"] == "3" and phases[0] > 0
    assert sum(phases) <= total_ms
    assert fields["state_rows"] == "100" and int(fields["state_bytes"]) > 0
