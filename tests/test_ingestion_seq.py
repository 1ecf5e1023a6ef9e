"""File-local ingestion_seq: the exact Parquet row order of each file
(binlog order, the dedup cascade's final tie-breaker), however the file
is split into scan partitions and however many files one batch holds."""

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from firebolt_cdc_lambda_spark.config import TableKeys
from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
from firebolt_cdc_lambda_spark.sources.ingest import read_cdc_files
from firebolt_cdc_lambda_spark.streaming import CdcStream

TS = dt.datetime(2024, 1, 1, 10, 0)


def _write(path, ids, names, row_group_size=None):
    n = len(ids)
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "name": names,
        "pos": pa.array(range(n), pa.int64()),
        "Op": ["U"] * n,
        "load_timestamp": pa.array([TS] * n, pa.timestamp("us")),
    }), path, row_group_size=row_group_size)
    return path


def test_split_file_numbered_in_row_order(spark, tmp_path):
    """A multi-row-group file read as several scan partitions is still
    numbered by its row order, not by key or partition order."""
    n = 2000
    ids = [(i * 7919) % n for i in range(n)]          # not monotone
    f = _write(str(tmp_path / "split.parquet"), ids,
               [f"r{i}" for i in range(n)], row_group_size=100)
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "4096")
    spark.conf.set(keys[1], "0")
    try:
        assert spark.read.parquet(f).rdd.getNumPartitions() > 1
        rows = read_cdc_files(spark, f).select(
            "pos", "ingestion_seq").collect()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert len(rows) == n
    assert all(r["ingestion_seq"] == r["pos"] + 1 for r in rows)


def test_two_files_numbered_from_one_each(spark, tmp_path):
    a = _write(str(tmp_path / "a.parquet"), [5, 3, 9], ["a", "b", "c"])
    b = _write(str(tmp_path / "b.parquet"), [1, 2], ["d", "e"])
    rows = read_cdc_files(spark, [a, b]).select(
        "name", "pos", "ingestion_seq").collect()
    assert sorted((r["name"], r["ingestion_seq"]) for r in rows) == [
        ("a", 1), ("b", 2), ("c", 3), ("d", 1), ("e", 2)]
    assert all(r["ingestion_seq"] == r["pos"] + 1 for r in rows)


def test_stream_batch_of_two_files_ties_resolve_by_row_order(
        spark, tmp_path):
    """One micro-batch holding two files: rows that tie on
    (load_timestamp, Op) resolve to the later row of their file."""
    source = tmp_path / "stream" / "fair" / "users"
    day = source / "2024" / "01" / "01"
    day.mkdir(parents=True)
    # keys in descending order inside each file, so neither key order
    # nor value order can stand in for row order
    n = 40
    ids_a = [k for k in range(n, 0, -1) for _ in range(3)]
    _write(str(day / "a.parquet"), ids_a,
           [f"a{k}-{j}" for k in range(n, 0, -1) for j in range(3)])
    ids_b = [k for k in range(2 * n, n, -1) for _ in range(2)]
    _write(str(day / "b.parquet"), ids_b,
           [f"b{k}-{j}" for k in range(2 * n, n, -1) for j in (9, 0)])
    pipe = CdcPipeline(spark, str(tmp_path / "warehouse"),
                       TableKeys.from_json('{"users": "id"}'),
                       num_buckets=4)
    stream = CdcStream(pipe, "users", ["id"], str(source),
                       str(tmp_path / "checkpoint"),
                       max_files_per_trigger=2)
    q = stream.start(spark)
    q.awaitTermination(600)
    batches = [p for p in q.recentProgress if p["numInputRows"]]
    assert len(batches) == 1
    got = {r["id"]: r["name"]
           for r in pipe.target_for("users", ["id"]).read().collect()}
    want = {k: f"a{k}-2" for k in range(1, n + 1)}
    want.update({k: f"b{k}-0" for k in range(n + 1, 2 * n + 1)})
    assert got == want
