"""Salted aggregation equivalence + warehouse catalog."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from firebolt_cdc_lambda_spark.config import TableKeys
from firebolt_cdc_lambda_spark.drift import SchemaDriftTracker
from firebolt_cdc_lambda_spark.operators.skew import salted_agg
from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
from firebolt_cdc_lambda_spark.sources import catalog

TS = dt.datetime(2024, 1, 1)


def test_salted_agg_matches_direct(spark):
    # hot key: 'a' holds 90% of rows
    rows = [Row(k="a", v=float(i)) for i in range(900)] + \
           [Row(k=chr(98 + i % 10), v=float(i)) for i in range(100)]
    df = spark.createDataFrame(rows)
    direct = {(r["k"]): (r["cnt"], r["total"], r["lo"], r["hi"])
              for r in df.groupBy("k").agg(
                  F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total"),
                  F.min("v").alias("lo"), F.max("v").alias("hi")).collect()}
    salted = {(r["k"]): (r["cnt"], r["total"], r["lo"], r["hi"])
              for r in salted_agg(df, ["k"],
                                  [("count", "v", "cnt"), ("sum", "v", "total"),
                                   ("min", "v", "lo"), ("max", "v", "hi")],
                                  num_salts=8).collect()}
    assert direct == salted


def test_salted_agg_rejects_non_algebraic(spark):
    df = spark.createDataFrame([Row(k="a", v=1.0)])
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], [("avg", "v", "m")])


def test_catalog_lists_warehouse_tables(spark, tmp_path):
    wh = str(tmp_path / "wh")
    pipe = CdcPipeline(spark, wh, TableKeys.from_json('{"users": "id", "orders": "id"}'),
                       num_buckets=4)
    pipe.process_batch("users", ["id"], spark.createDataFrame(
        [Row(id=1, name="a", Op="I", load_timestamp=TS)]))
    pipe.process_batch("orders", ["id"], spark.createDataFrame(
        [Row(id=1, amount=2.5, Op="I", load_timestamp=TS)]))
    assert catalog.list_tables(wh) == ["orders", "users"]
    cols = dict(catalog.table_columns(wh, "users"))
    assert cols == {"id": "bigint", "name": "string"}
    # catalog feeds the drift fleet scan directly
    tracker = SchemaDriftTracker(spark, str(tmp_path / "drift"))
    rep = tracker.scan_fleet(catalog.live_schemas(wh),
                             TableKeys.from_json('{"users": "id"}'))
    assert list(rep.new_tables) == ["orders"]


def test_catalog_empty_root(tmp_path):
    assert catalog.list_tables(str(tmp_path / "missing")) == []


def _one_table_warehouse(spark, tmp_path):
    from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
    wh = tmp_path / "wh"
    KeyedTable(spark, str(wh / "t"), ["id"], num_buckets=2).init(
        spark.range(5).selectExpr("id", "'x' AS v"))
    return wh


def test_catalog_lists_a_uri_root(spark, tmp_path):
    """A warehouse root given as a URI lists and registers its tables."""
    from firebolt_cdc_lambda_spark import sqlapi
    root = f"file://{_one_table_warehouse(spark, tmp_path)}"
    assert catalog.list_tables(root) == ["t"]
    assert dict(catalog.table_columns(root, "t")) == {"id": "bigint",
                                                      "v": "string"}
    assert sqlapi.register_warehouse(spark, root, prefix="uri_") == ["uri_t"]
    assert spark.table("uri_t").count() == 5


def test_catalog_recovers_a_lone_old_swap_dir(spark, tmp_path):
    """A table caught between a swap's two renames (only ``t__old`` on
    disk) is the committed table: listing recovers it."""
    wh = _one_table_warehouse(spark, tmp_path)
    (wh / "t").rename(wh / "t__old")
    assert catalog.list_tables(f"file://{wh}") == ["t"]
    assert (wh / "t" / "_schema.json").is_file()
    assert not (wh / "t__old").exists()


def test_salted_join_matches_plain(spark):
    from firebolt_cdc_lambda_spark.operators.skew import salted_join
    fact = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ([1] * 5 + [2])],
        "k int, v int")
    dim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, lab string")
    got = sorted((r["k"], r["v"], r["lab"])
                 for r in salted_join(fact, dim, "k", num_salts=4).collect())
    exp = sorted((r["k"], r["v"], r["lab"])
                 for r in fact.join(dim, "k").collect())
    assert got == exp


def test_salted_join_left_keeps_unmatched(spark):
    from firebolt_cdc_lambda_spark.operators.skew import salted_join
    fact = spark.createDataFrame([(1, 10), (9, 90)], "k int, v int")
    dim = spark.createDataFrame([(1, "a")], "k int, lab string")
    rows = {r["k"]: r["lab"]
            for r in salted_join(fact, dim, "k", how="left").collect()}
    assert rows == {1: "a", 9: None}


def test_salted_join_shuffles_on_key_and_salt(spark):
    """With broadcast off, the join must key its exchanges on
    (k, __salt) — that spread IS the operator's reason to exist."""
    from firebolt_cdc_lambda_spark.operators.skew import salted_join
    fact = spark.createDataFrame([(1, 10)], "k int, v int")
    dim = spark.createDataFrame([(1, "a")], "k int, lab string")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (salted_join(fact, dim, "k", num_salts=4)
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "__salt" in plan and "hashpartitioning(k" in plan


def test_salted_join_rejects_right_joins(spark):
    from firebolt_cdc_lambda_spark.operators.skew import salted_join
    df = spark.createDataFrame([(1, 1)], "k int, v int")
    import pytest
    with pytest.raises(ValueError, match="inner|left"):
        salted_join(df, df, "k", how="right")
