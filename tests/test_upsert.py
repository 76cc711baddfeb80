"""MERGE upsert semantics (R17): conflict policy + idempotent replay."""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from aws_etl_pipeline_spark.operators.upsert import merge_into_parquet, merge_upsert


def _df(spark, rows):
    return spark.createDataFrame(rows, "transaction_id string, amount double, note string")


def test_merge_updates_and_inserts(spark):
    target = _df(spark, [("T1", 10.0, "old"), ("T2", 20.0, "keep")])
    source = _df(spark, [("T1", 99.0, "new"), ("T3", 30.0, "ins")])
    out = {r.transaction_id: r for r in merge_upsert(target, source, "transaction_id").collect()}
    assert out["T1"].amount == 99.0 and out["T1"].note == "new"  # matched -> update
    assert out["T2"].amount == 20.0  # unmatched target -> kept
    assert out["T3"].amount == 30.0  # unmatched source -> insert
    assert len(out) == 3


def test_merge_update_subset_of_columns(spark):
    # reference updates only amount + processed_timestamp on conflict
    # (`lambda_function.py:226-235`); other columns keep target values
    target = _df(spark, [("T1", 10.0, "orig")])
    source = _df(spark, [("T1", 99.0, "should-not-apply")])
    row = merge_upsert(target, source, "transaction_id", update_cols=("amount",)).first()
    assert row.amount == 99.0
    assert row.note == "orig"


def test_merge_replay_idempotent(spark, tmp_path):
    path = str(tmp_path / "txn")
    batch = _df(spark, [("T1", 10.0, "a"), ("T2", 20.0, "b")])
    merge_into_parquet(batch, path, key="transaction_id")
    first = sorted(map(tuple, spark.read.parquet(path).collect()))
    # replaying the identical batch must not change the table
    merge_into_parquet(batch, path, key="transaction_id")
    second = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert first == second
    # an updated batch changes exactly the matched row
    merge_into_parquet(_df(spark, [("T2", 99.0, "b2")]), path, key="transaction_id")
    out = {r.transaction_id: r.amount for r in spark.read.parquet(path).collect()}
    assert out == {"T1": 10.0, "T2": 99.0}


def test_merge_into_plain_spark_target(spark, tmp_path):
    """A target written before the staging marker existed is merged
    into, not replaced."""
    import os

    from aws_etl_pipeline_spark import staging

    path = str(tmp_path / "txn")
    _df(spark, [("T1", 10.0, "a"), ("T2", 20.0, "b")]).write.parquet(path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, staging.MARKER))
    merge_into_parquet(_df(spark, [("T2", 99.0, "b2"), ("T3", 30.0, "c")]), path, key="transaction_id")
    out = {r.transaction_id: r.amount for r in spark.read.parquet(path).collect()}
    assert out == {"T1": 10.0, "T2": 99.0, "T3": 30.0}


def test_merge_into_copied_target(spark, tmp_path):
    """A target copied to a new path (as perfbench resets its upsert
    target) is merged into, not replaced; the original is untouched."""
    import shutil

    base, path = str(tmp_path / "base"), str(tmp_path / "target")
    merge_into_parquet(_df(spark, [("T1", 10.0, "a"), ("T2", 20.0, "b")]), base, key="transaction_id")
    shutil.copytree(base, path)
    merge_into_parquet(_df(spark, [("T2", 99.0, "b2"), ("T3", 30.0, "c")]), path, key="transaction_id")
    out = {r.transaction_id: r.amount for r in spark.read.parquet(path).collect()}
    assert out == {"T1": 10.0, "T2": 99.0, "T3": 30.0}
    kept = {r.transaction_id: r.amount for r in spark.read.parquet(base).collect()}
    assert kept == {"T1": 10.0, "T2": 20.0}


def test_merge_null_overwrites_on_match(spark):
    # MERGE semantics: a matched source row with an explicit NULL in an
    # update column overwrites the target value (ON CONFLICT DO UPDATE
    # SET c = EXCLUDED.c) — match is keyed on key presence, not value.
    target = _df(spark, [("T1", 10.0, "orig")])
    source = _df(spark, [("T1", None, "new")])
    row = merge_upsert(target, source, "transaction_id").first()
    assert row.amount is None
    assert row.note == "new"


def test_merge_insert_fills_non_update_columns(spark):
    # with a restricted update policy, INSERTed rows still take the
    # whole source row (only matched rows restrict to update_cols)
    target = _df(spark, [("T1", 10.0, "orig")])
    source = _df(spark, [("T1", 99.0, "skip"), ("T2", 20.0, "full")])
    out = {
        r.transaction_id: r
        for r in merge_upsert(
            target, source, "transaction_id", update_cols=("amount",)
        ).collect()
    }
    assert out["T1"].note == "orig"  # matched: note not in update_cols
    assert out["T2"].note == "full"  # inserted: whole row
    assert out["T2"].amount == 20.0


def test_merge_best_effort_drops_bad_rows(spark):
    # reference tolerance loop (`lambda_function.py:258-260`): rows the
    # insert would reject (NULL PK, duplicate PK in batch) are skipped,
    # the batch proceeds; last-writer-wins within the batch.
    target = _df(spark, [("T1", 10.0, "orig")])
    source = _df(
        spark,
        [(None, 5.0, "nullkey"), ("T2", 1.0, "a"), ("T2", 2.0, "b"), ("T1", 99.0, "up")],
    )
    out = {
        r.transaction_id: r
        for r in merge_upsert(
            target, source, "transaction_id", best_effort=True
        ).collect()
    }
    assert set(out) == {"T1", "T2"}
    assert out["T1"].amount == 99.0
    assert out["T2"].amount in (1.0, 2.0)  # deterministic pick, one of the batch


def test_staging_merge_sql_reference_policy():
    from aws_etl_pipeline_spark.operators.upsert import staging_merge_sql

    sql = staging_merge_sql(
        "portfolio_transactions",
        "portfolio_transactions_staging",
        "transaction_id",
        ["transaction_id", "amount", "processed_timestamp"],
        update_cols=("amount", "processed_timestamp"),
    )
    assert "MERGE INTO portfolio_transactions t" in sql
    # staging-side references are quoted (Spark's JDBC writer quotes
    # the staging columns it creates); target-side stay unquoted.
    assert 'amount = s."amount"' in sql
    assert 'processed_timestamp = s."processed_timestamp"' in sql
    update_clause = sql.split("UPDATE SET")[1].split("WHEN NOT MATCHED")[0]
    assert "transaction_id" not in update_clause  # key never updated
    assert "WHEN NOT MATCHED THEN INSERT" in sql


# --- full-row replace against a plain-Python MERGE -------------------------


def _reference_merge(target, source, cols, source_cols):
    """MERGE on ``k`` in plain Python: a target row whose non-NULL key
    the source holds is replaced by every source row with that key
    (target-only columns keep the target's value); other target rows
    are kept; source rows with a NULL or unmatched key are inserted,
    target-only columns NULL."""
    skeys = {s["k"] for s in source if s["k"] is not None}
    tkeys = {t["k"] for t in target if t["k"] is not None}
    out = []
    for t in target:
        if t["k"] in skeys:
            out += [
                tuple(s[c] if c in source_cols else t[c] for c in cols)
                for s in source
                if s["k"] == t["k"]
            ]
        else:
            out.append(tuple(t[c] for c in cols))
    out += [
        tuple(s.get(c) for c in cols)
        for s in source
        if s["k"] is None or s["k"] not in tkeys
    ]
    return sorted(out, key=repr)


@settings(
    deadline=None, max_examples=25, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(
    target_keys=st.lists(st.integers(0, 9), unique=True, max_size=8),
    target_null_keys=st.integers(0, 2),
    source_keys=st.lists(st.one_of(st.none(), st.integers(0, 12)), max_size=10),
    target_only=st.booleans(),
    source_extra=st.booleans(),
)
def test_merge_upsert_equals_reference_merge(
    spark, target_keys, target_null_keys, source_keys, target_only, source_extra
):
    """NULL keys on both sides, duplicate source keys, a target-only
    column (the partial update) and an extra source column (still a
    full-row replace)."""
    cols = ["k", "a", "b"] + (["t_only"] if target_only else [])
    source_cols = ["b", "k", "a"] + (["s_extra"] if source_extra else [])
    keys = [f"K{k}" for k in target_keys] + [None] * target_null_keys
    target = [
        {"k": k, "a": float(i), "b": f"t{i}", "t_only": f"x{i}"} for i, k in enumerate(keys)
    ]
    source = [
        {"k": None if k is None else f"K{k}", "a": 100.0 + j, "b": f"s{j}", "s_extra": j}
        for j, k in enumerate(source_keys)
    ]
    types = {"k": "string", "a": "double", "b": "string", "t_only": "string", "s_extra": "int"}

    def frame(rows, names):
        schema = ", ".join(f"{c} {types[c]}" for c in names)
        return spark.createDataFrame([tuple(r[c] for c in names) for r in rows], schema)

    merged = merge_upsert(frame(target, cols), frame(source, source_cols), "k")
    assert merged.columns == cols
    got = sorted((tuple(r) for r in merged.collect()), key=repr)
    assert got == _reference_merge(target, source, cols, source_cols)


def test_full_row_merge_broadcasts_the_batch_keys(spark, tmp_path, py4j_calls_during):
    """A full-row replace is a broadcast anti join: the target is not
    shuffled, and the plan builds in at most 150 py4j commands (the
    full outer join with a per-column choice took 1120)."""
    from aws_etl_pipeline_spark.generator import generate_transactions
    from aws_etl_pipeline_spark.operators.etl import transform_transactions
    from aws_etl_pipeline_spark.schemas import TRANSACTIONS_RAW

    csv, path = str(tmp_path / "batch"), str(tmp_path / "target")
    generate_transactions(spark, 50, seed=1).write.option("header", True).csv(csv)

    def batch():
        return transform_transactions(spark.read.csv(csv, header=True, schema=TRANSACTIONS_RAW))

    batch().write.parquet(path)
    target, source = spark.read.parquet(path), batch()
    built = []
    assert (
        py4j_calls_during(lambda: built.append(merge_upsert(target, source, "transaction_id")))
        <= 150
    )
    plan = built[0]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "FullOuter" not in plan
