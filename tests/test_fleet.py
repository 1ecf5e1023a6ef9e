"""Multi-table fleet orchestration: concurrent streams, null-PK skip."""

import datetime as dt

from pyspark.sql import Row

from firebolt_cdc_lambda_spark.config import TableKeys
from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
from firebolt_cdc_lambda_spark.streaming.fleet import CdcFleet

TS = dt.datetime(2024, 1, 1, 10, 0)
TS2 = dt.datetime(2024, 1, 2, 10, 0)


def write_file(spark, root, table, date, name, rows):
    y, m, d = date.split("-")
    path = f"{root}/fair/{table}/{y}/{m}/{d}/{name}"
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(path)


def test_fleet_drains_all_tables(spark, tmp_path):
    root = str(tmp_path / "src")
    write_file(spark, root, "users", "2024-01-01", "a.parquet", [
        Row(id=1, name="alice", Op="I", load_timestamp=TS)])
    write_file(spark, root, "users", "2024-01-02", "b.parquet", [
        Row(id=1, name="alice2", Op="U", load_timestamp=TS2)])
    write_file(spark, root, "orders", "2024-01-01", "a.parquet", [
        Row(oid=7, amt=5.0, Op="I", load_timestamp=TS)])
    write_file(spark, root, "nokeys", "2024-01-01", "a.parquet", [
        Row(x=1, Op="I", load_timestamp=TS)])

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"),
        TableKeys.from_json('{"users": "id", "orders": "oid", "nokeys": null}'),
        num_buckets=4)
    fleet = CdcFleet(pipe, root, str(tmp_path / "ckpt"))
    assert fleet.discover_tables() == ["nokeys", "orders", "users"]
    assert set(fleet.streams()) == {"orders", "users"}   # null PK skipped

    status = fleet.run_once(spark)
    assert status == {"orders": "drained", "users": "drained"}
    users = {r["id"]: r["name"]
             for r in pipe.target_for("users", ["id"]).read().collect()}
    assert users == {1: "alice2"}
    orders = pipe.target_for("orders", ["oid"]).read().collect()
    assert len(orders) == 1 and orders[0]["amt"] == 5.0

    # second drain: checkpoints make it a fleet-wide no-op
    status2 = fleet.run_once(spark)
    assert status2 == {"orders": "drained", "users": "drained"}
    assert pipe.target_for("users", ["id"]).read().count() == 1


def test_fleet_maintenance_purges_tombstones(spark, tmp_path):
    """run_maintenance sweeps every tombstone-mode table; null-PK and
    absent tables are skipped, not errored."""
    from pyspark.sql import functions as F

    from firebolt_cdc_lambda_spark.operators.merge import TOMBSTONE_COL

    root = str(tmp_path / "src")
    write_file(spark, root, "users", "2024-01-01", "a.parquet", [
        Row(id=1, name="alice", Op="I", load_timestamp=TS),
        Row(id=2, name="bob", Op="I", load_timestamp=TS)])
    write_file(spark, root, "nokeys", "2024-01-01", "a.parquet", [
        Row(x=1, Op="I", load_timestamp=TS)])
    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"),
        TableKeys.from_json('{"users": "id", "nokeys": null}'),
        num_buckets=4, version_col="load_timestamp")
    fleet = CdcFleet(pipe, root, str(tmp_path / "ckpt"))
    assert fleet.run_once(spark)["users"] == "drained"
    # the delete must arrive AFTER bootstrap so it goes through the merge
    # path (a D in the bootstrap batch just lands as a last-writer row)
    write_file(spark, root, "users", "2024-01-02", "b.parquet", [
        Row(id=1, name="x", Op="D", load_timestamp=TS2)])
    assert fleet.run_once(spark)["users"] == "drained"

    t = pipe.target_for("users", ["id"])
    assert t.tombstones is True                       # default-on, persisted
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1
    status = fleet.run_maintenance()
    assert status == {"users": "purged", "nokeys": "skipped"}
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 0
    assert {r["id"] for r in t.read().collect()} == {2}


def test_fleet_pooled_drain_bounded_width(spark, tmp_path):
    """run_pooled drains every table through a bounded slot pool (the
    PLANS 7h production shape); results identical to run_once."""
    root = str(tmp_path / "src")
    tables = [f"t{i}" for i in range(5)]
    for i, tb in enumerate(tables):
        write_file(spark, root, tb, "2024-01-01", "a.parquet", [
            Row(id=1, v=f"{tb}-a", Op="I", load_timestamp=TS)])
        write_file(spark, root, tb, "2024-01-02", "b.parquet", [
            Row(id=1, v=f"{tb}-b", Op="U", load_timestamp=TS2),
            Row(id=2, v=f"{tb}-c", Op="I", load_timestamp=TS2)])
    keys = "{" + ", ".join(f'"{tb}": "id"' for tb in tables) + "}"
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json(keys), num_buckets=4)
    fleet = CdcFleet(pipe, root, str(tmp_path / "ckpt"))
    status = fleet.run_pooled(spark, width=2)
    assert status == {tb: "drained" for tb in tables}
    for tb in tables:
        rows = {r["id"]: r["v"]
                for r in pipe.target_for(tb, ["id"]).read().collect()}
        assert rows == {1: f"{tb}-b", 2: f"{tb}-c"}
    # second pooled drain: checkpoints make it a fleet-wide no-op
    assert fleet.run_pooled(spark, width=2) == {
        tb: "drained" for tb in tables}


def test_fleet_default_ledger_is_day_partitioned(spark, tmp_path):
    """The pipeline's AUTO-constructed ledger (the fleet path —
    CdcFleet drives the pipeline, which owns the ledger) records into
    day dirs, so at the reference's ~10k files/day GC is a pure
    directory drop and forget is day-scoped."""
    import os

    from firebolt_cdc_lambda_spark.sources.ledger import PDAY_COL
    root = str(tmp_path / "src")
    write_file(spark, root, "users", "2024-01-01", "a.parquet", [
        Row(id=1, name="alice", Op="I", load_timestamp=TS)])
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "id"}'),
                       num_buckets=4)
    assert pipe.ledger is not None
    # batch-mode processing records into day dirs
    y, m, d = "2024", "01", "01"
    pipe.process_file(f"{root}/fair/users/{y}/{m}/{d}/a.parquet")
    lroot = str(tmp_path / "wh" / "_ledger")
    assert any(n.startswith(f"{PDAY_COL}=") for n in os.listdir(lroot))
    # GC on the day layout is a directory drop: expire everything
    pipe.ledger.days_to_keep = -1
    pipe.ledger.maybe_cleanup(force=True)
    assert not any(n.startswith(f"{PDAY_COL}=")
                   for n in os.listdir(lroot))


def test_fleet_maintenance_pooled_equals_serial(spark, tmp_path):
    """Round-13 optimization regression: run_maintenance sweeps tables
    CONCURRENTLY by default (pool_width auto).  The pooled sweep must
    produce the same status map and the same on-disk table states as
    pool_width=1 (the prior serial behavior), with real mixed debt —
    tombstones on one table, a delete-vector sidecar on another, and a
    null-PK bystander."""
    from pyspark.sql import functions as F

    from firebolt_cdc_lambda_spark.operators.merge import TOMBSTONE_COL

    def build(tag):
        root = str(tmp_path / f"src{tag}")
        for t in ("users", "items"):
            write_file(spark, root, t, "2024-01-01", "a.parquet", [
                Row(id=i, name=f"v{i}", Op="I", load_timestamp=TS)
                for i in range(8)])
        write_file(spark, root, "nokeys", "2024-01-01", "a.parquet", [
            Row(x=1, Op="I", load_timestamp=TS)])
        pipe = CdcPipeline(
            spark, str(tmp_path / f"wh{tag}"),
            TableKeys.from_json(
                '{"users": "id", "items": "id", "nokeys": null}'),
            num_buckets=4, version_col="load_timestamp")
        fleet = CdcFleet(pipe, root, str(tmp_path / f"ckpt{tag}"))
        fleet.run_once(spark)
        for t in ("users", "items"):
            write_file(spark, root, t, "2024-01-02", "b.parquet", [
                Row(id=1, name="x", Op="D", load_timestamp=TS2)])
        fleet.run_once(spark)
        return pipe, fleet

    pipe_a, fleet_a = build("a")
    pipe_b, fleet_b = build("b")
    st_pooled = fleet_a.run_maintenance()              # default: pooled
    st_serial = fleet_b.run_maintenance(pool_width=1)  # prior behavior
    assert st_pooled == st_serial
    for pipe in (pipe_a, pipe_b):
        for t in ("users", "items"):
            kt = pipe.target_for(t, ["id"])
            assert kt._read_raw().where(F.col(TOMBSTONE_COL)).count() == 0
            assert {r["id"] for r in kt.read().collect()} == set(range(2, 8)) | {0}


def test_overlapping_drain_listing_scopes_restore_the_session_value(spark):
    """Two drains in flight on one session both pin the listing
    threshold.  Exiting in A-enter, B-enter, A-exit, B-exit order must
    keep it pinned while B still runs and restore the session value when
    the last drain leaves — B must not capture A's 32 as its prior."""
    from firebolt_cdc_lambda_spark.session import conf_scope
    from firebolt_cdc_lambda_spark.streaming.fleet import _DRAIN_LISTING
    (key, pinned), = _DRAIN_LISTING.items()
    prior = spark.conf.get(key)
    assert prior != pinned
    drain_a = conf_scope(spark, **_DRAIN_LISTING)
    drain_b = conf_scope(spark, **_DRAIN_LISTING)
    drain_a.__enter__()
    assert spark.conf.get(key) == pinned
    drain_b.__enter__()
    assert spark.conf.get(key) == pinned
    drain_a.__exit__(None, None, None)
    assert spark.conf.get(key) == pinned
    drain_b.__exit__(None, None, None)
    assert spark.conf.get(key) == prior
