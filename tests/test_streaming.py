"""Structured Streaming CDC: per-file micro-batches, checkpoint
exactly-once across restarts, LOAD-file filtering."""

import datetime as dt

import pytest
from pyspark.sql import Row

from firebolt_cdc_lambda_spark.config import TableKeys
from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
from firebolt_cdc_lambda_spark.streaming import CdcStream

TS = dt.datetime(2024, 1, 1, 10, 0)
TS2 = dt.datetime(2024, 1, 2, 10, 0)
TS3 = dt.datetime(2024, 1, 3, 10, 0)


def write_file(spark, root, date, name, rows):
    y, m, d = date.split("-")
    path = f"{root}/{y}/{m}/{d}/{name}"
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture()
def env(spark, tmp_path):
    source = str(tmp_path / "stream" / "fair" / "users")
    pipe = CdcPipeline(spark, str(tmp_path / "warehouse"),
                       TableKeys.from_json('{"users": "id"}'), num_buckets=8)
    stream = CdcStream(pipe, "users", ["id"], source,
                       str(tmp_path / "checkpoint"))
    return source, pipe, stream


def test_stream_applies_batches_in_order(spark, env):
    source, pipe, stream = env
    write_file(spark, source, "2024-01-01", "b1.parquet", [
        Row(id=1, name="alice", Op="I", load_timestamp=TS),
        Row(id=2, name="bob", Op="I", load_timestamp=TS),
    ])
    write_file(spark, source, "2024-01-02", "b2.parquet", [
        Row(id=1, name="alice2", Op="U", load_timestamp=TS2),
        Row(id=2, name="bye", Op="D", load_timestamp=TS2),
        Row(id=3, name="carol", Op="I", load_timestamp=TS2),
    ])
    stream.run_to_completion(spark)
    rows = {r["id"]: r["name"]
            for r in pipe.target_for("users", ["id"]).read().collect()}
    assert rows == {1: "alice2", 3: "carol"}


def test_stream_checkpoint_exactly_once(spark, env):
    source, pipe, stream = env
    write_file(spark, source, "2024-01-01", "b1.parquet", [
        Row(id=1, name="alice", Op="I", load_timestamp=TS),
    ])
    stream.run_to_completion(spark)
    # restart the stream: nothing new -> no reprocessing (checkpoint)
    stream.run_to_completion(spark)
    tbl = pipe.target_for("users", ["id"])
    assert tbl.read().count() == 1
    # a new file arrives; only it is processed on the next run
    write_file(spark, source, "2024-01-03", "b3.parquet", [
        Row(id=1, name="alice3", Op="U", load_timestamp=TS3),
    ])
    stream.run_to_completion(spark)
    rows = tbl.read().collect()
    assert len(rows) == 1 and rows[0]["name"] == "alice3"


def test_stream_table_dir_starting_with_load_not_dropped(spark, tmp_path):
    """The LOAD filter matches only the last one/two path segments: a
    TABLE whose directory name starts with LOAD must still stream (an
    any-segment match would silently drop its entire stream), while leaf
    LOAD* files inside it are skipped — the reference checks only the
    leaf filename (lambda/handler.py:781-783)."""
    source = str(tmp_path / "stream" / "fair" / "LOAD_events")
    pipe = CdcPipeline(spark, str(tmp_path / "warehouse"),
                       TableKeys.from_json('{"LOAD_events": "id"}'), num_buckets=8)
    stream = CdcStream(pipe, "LOAD_events", ["id"], source,
                       str(tmp_path / "checkpoint"))
    write_file(spark, source, "2024-01-01", "b1.parquet", [
        Row(id=1, name="alice", Op="I", load_timestamp=TS),
    ])
    write_file(spark, source, "2024-01-01", "LOAD0001.parquet", [
        Row(id=99, name="full-load-row", Op="I", load_timestamp=TS),
    ])
    stream.run_to_completion(spark)
    rows = {r["id"] for r in pipe.target_for("LOAD_events", ["id"]).read().collect()}
    assert rows == {1}


def test_stream_skips_load_files(spark, env):
    source, pipe, stream = env
    write_file(spark, source, "2024-01-01", "b1.parquet", [
        Row(id=1, name="alice", Op="I", load_timestamp=TS),
    ])
    write_file(spark, source, "2024-01-01", "LOAD0001.parquet", [
        Row(id=99, name="full-load-row", Op="I", load_timestamp=TS),
    ])
    stream.run_to_completion(spark)
    rows = {r["id"] for r in pipe.target_for("users", ["id"]).read().collect()}
    assert rows == {1}  # LOAD* filtered at the source


def test_ingestion_seq_guard_catches_non_file_batch(spark):
    """ingestion_seq is the Parquet row index: a batch whose plan is not
    file-backed has none, and must fail loudly instead of silently
    losing the binlog-order tie-breaker."""
    from firebolt_cdc_lambda_spark.sources.ingest import with_ingestion_seq

    mem = spark.range(5)
    with pytest.raises(Exception, match="ingestion_seq"):
        with_ingestion_seq(mem).collect()
    # file-backed batches pass the guard untouched
    df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    rows = with_ingestion_seq(df).collect()
    assert sorted(r["ingestion_seq"] for r in rows) == list(range(1, 26))
