"""Incremental rollup maintenance: refreshed groups equal a full
re-aggregation after updates, inserts, deletes, and group-vanishing."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
from firebolt_cdc_lambda_spark.operators.rollup_table import RollupTable

TS = dt.datetime(2024, 1, 1)


def aggs():
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amt").cast("decimal(18,2)")).cast("double").alias("total")]


def full_rollup(df):
    return {(r["status"]): (r["n"], r["total"])
            for r in df.groupBy("status").agg(*aggs()).collect()}


def as_map(rt):
    return {(r["status"]): (r["n"], r["total"]) for r in rt.read().collect()}


@pytest.fixture()
def env(spark, tmp_path):
    base_rows = [Row(id=i, status=("a", "b", "c")[i % 3], amt=float(i)) for i in range(90)]
    base = spark.createDataFrame(base_rows)
    kt = KeyedTable(spark, str(tmp_path / "base"), ["id"], num_buckets=8)
    kt.init(base)
    rt = RollupTable(spark, str(tmp_path / "rollup"), ["status"], aggs, num_buckets=4)
    rt.init(kt.read())
    return kt, rt


def test_init_matches_full(spark, env):
    kt, rt = env
    assert as_map(rt) == full_rollup(kt.read())


def test_refresh_after_updates_and_deletes(spark, env):
    kt, rt = env
    batch = spark.createDataFrame(
        [Row(id=1, status="a", amt=1000.0, Op="U", load_timestamp=TS),
         Row(id=2, status="b", amt=0.0, Op="D", load_timestamp=TS),
         Row(id=900, status="c", amt=5.0, Op="I", load_timestamp=TS)])
    # pre-images must be MATERIALIZED before the merge rewrites the base
    pre_images = (kt.read().join(batch.select("id"), "id", "left_semi")
                  .localCheckpoint(eager=True))
    kt.merge_batch(batch)
    touched = pre_images.select("status").unionByName(batch.select("status"))
    n = rt.refresh(kt.read(), touched)
    assert n == 3
    assert as_map(rt) == full_rollup(kt.read())


def test_refresh_group_migration(spark, env):
    """A row changing groups must refresh BOTH its old and new group."""
    kt, rt = env
    batch = spark.createDataFrame(
        [Row(id=3, status="z", amt=3.0, Op="U", load_timestamp=TS)])  # a -> z
    pre = (kt.read().join(batch.select("id"), "id", "left_semi")
           .localCheckpoint(eager=True))  # status=a
    kt.merge_batch(batch)
    rt.refresh(kt.read(), pre.select("status").unionByName(batch.select("status")))
    m = as_map(rt)
    assert m == full_rollup(kt.read())
    assert "z" in m


def test_refresh_vanishing_group(spark, tmp_path):
    spark_df = spark.createDataFrame(
        [Row(id=1, status="only", amt=1.0), Row(id=2, status="other", amt=2.0)])
    kt = KeyedTable(spark, str(tmp_path / "b2"), ["id"], num_buckets=4)
    kt.init(spark_df)
    rt = RollupTable(spark, str(tmp_path / "r2"), ["status"], aggs, num_buckets=4)
    rt.init(kt.read())
    batch = spark.createDataFrame([Row(id=1, status="only", amt=1.0, Op="D",
                                       load_timestamp=TS)])
    pre = (kt.read().join(batch.select("id"), "id", "left_semi")
           .localCheckpoint(eager=True))
    kt.merge_batch(batch)
    rt.refresh(kt.read(), pre.select("status").unionByName(batch.select("status")))
    assert as_map(rt) == full_rollup(kt.read())
    assert "only" not in as_map(rt)


def test_refresh_empty_batch_noop(spark, env):
    kt, rt = env
    before = as_map(rt)
    n = rt.refresh(kt.read(), kt.read().select("status").where("1=0"))
    assert n == 0 and as_map(rt) == before


def test_reinit_into_fewer_buckets_drops_vacated_groups(
        spark, tmp_path, dynamic_overwrite):
    """A full reload whose aggregate fills fewer buckets than the store
    holds: every group gone from the base must leave the rollup, under
    a dynamic session default too (an in-place dynamic overwrite kept
    the vacated buckets' groups)."""
    rt = RollupTable(spark, str(tmp_path / "r"), ["status"], aggs,
                     num_buckets=4)
    many = spark.createDataFrame(
        [Row(id=i, status=f"s{i % 12}", amt=float(i)) for i in range(48)])
    rt.init(many)
    assert len({r["_gbucket"] for r in
                spark.read.parquet(rt.path).collect()}) > 1
    one = spark.createDataFrame([Row(id=1, status="s1", amt=5.0)])
    rt.init(one)
    assert as_map(rt) == full_rollup(one) == {"s1": (1, 5.0)}
