"""CLI entry points (__main__.py) — the reference operator's workflow:
generate -> process -> list, in-process (main() reuses the test
session via getOrCreate)."""

from aws_etl_pipeline_spark.__main__ import main


def test_generate_process_roundtrip(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw-data")
    out = str(tmp_path / "processed-data")
    assert main(["generate", "--rows", "25", "--date", "2024-03-15", "--out", raw]) == 0
    assert main(["process", "--src", raw, "--out", out]) == 0
    captured = capsys.readouterr().out
    assert "processed 25 records" in captured
    back = spark.read.json(out)
    assert back.count() == 25
    assert "amount_category" in back.columns


def test_process_launches_only_the_json_write(spark, tmp_path, capsys, jobs_during):
    """``process`` prints the row count the JSON sink observed inside its
    own write, so it launches no job beyond that write's."""
    from aws_etl_pipeline_spark.operators.etl import transform_transactions, write_json
    from aws_etl_pipeline_spark.schemas import TRANSACTIONS_RAW

    raw = str(tmp_path / "raw-data")
    assert main(["generate", "--rows", "25", "--date", "2024-03-15", "--out", raw]) == 0
    src = spark.read.schema(TRANSACTIONS_RAW).option("header", True).csv(raw)
    write_jobs = jobs_during(
        lambda: write_json(transform_transactions(src), str(tmp_path / "plain"))
    )
    out = str(tmp_path / "processed-data")
    capsys.readouterr()
    assert jobs_during(lambda: main(["process", "--src", raw, "--out", out])) == write_jobs
    assert "processed 25 records" in capsys.readouterr().out


def test_backfill_layout(spark, tmp_path):
    raw = str(tmp_path / "hist")
    assert main(["backfill", "--days", "2", "--end-date", "2024-03-15", "--out", raw]) == 0
    import os

    assert os.path.isdir(os.path.join(raw, "year=2024", "month=03", "day=15"))


def test_list_files(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw")
    main(["generate", "--rows", "5", "--out", raw])
    capsys.readouterr()
    assert main(["list", "--dir", raw]) == 0
    out = capsys.readouterr().out
    assert "files" in out


def test_explain_named_query(spark, sf_dir, capsys):
    assert main(["explain", "q5_region_revenue", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "BroadcastHashJoin" in out


def test_explain_unknown_query(spark, capsys):
    assert main(["explain", "no_such_query"]) == 2
    assert "unknown query" in capsys.readouterr().out


def test_watch_rerun_lands_only_new_files(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw")
    out = str(tmp_path / "processed")
    assert main(["generate", "--rows", "25", "--out", raw]) == 0
    for _ in range(2):
        assert main(["watch", "--src", raw, "--out", out]) == 0
        assert spark.read.json(out).count() == 25
    assert "drained pending files" in capsys.readouterr().out
