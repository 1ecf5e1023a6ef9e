"""Dedup cascade semantics: last-writer-wins with D > U > I on timestamp
ties, NULL-safe tie-breakers, file-order final tie-break (reference
contract: lambda/handler.py:345-404)."""

import datetime as dt

import pytest
from pyspark.sql import Row

from firebolt_cdc_lambda_spark.operators.dedup import deduplicate, needs_dedup
from firebolt_cdc_lambda_spark.operators.ordering import dedup_ordering, op_priority


TS = dt.datetime(2024, 1, 1, 12, 0, 0)
TS2 = dt.datetime(2024, 1, 2, 12, 0, 0)


def make(spark, rows):
    return spark.createDataFrame(rows)


def test_latest_load_timestamp_wins(spark):
    df = make(spark, [
        Row(id=1, v="old", Op="I", load_timestamp=TS, ingestion_seq=1),
        Row(id=1, v="new", Op="U", load_timestamp=TS2, ingestion_seq=2),
        Row(id=2, v="only", Op="I", load_timestamp=TS, ingestion_seq=3),
    ])
    out = {r["id"]: r["v"] for r in deduplicate(df, ["id"]).collect()}
    assert out == {1: "new", 2: "only"}


def test_op_priority_on_timestamp_tie(spark):
    # same load_timestamp: D(3) > U(2) > I(1)  (lambda/handler.py:381-387)
    df = make(spark, [
        Row(id=1, v="ins", Op="I", load_timestamp=TS, ingestion_seq=1),
        Row(id=1, v="del", Op="D", load_timestamp=TS, ingestion_seq=2),
        Row(id=1, v="upd", Op="U", load_timestamp=TS, ingestion_seq=3),
    ])
    out = deduplicate(df, ["id"]).collect()
    assert len(out) == 1 and out[0]["Op"] == "D"


def test_updated_epoch_bigint_tiebreak(spark):
    # updated may be an epoch BIGINT (lambda/handler.py:390-392);
    # COALESCE(updated,0): NULL loses to any real value.
    df = make(spark, [
        Row(id=1, v="a", Op="U", load_timestamp=TS, updated=None, ingestion_seq=9),
        Row(id=1, v="b", Op="U", load_timestamp=TS, updated=1700000000, ingestion_seq=1),
    ])
    out = deduplicate(df, ["id"]).collect()
    assert out[0]["v"] == "b"


def test_ingestion_seq_final_tiebreak(spark):
    df = make(spark, [
        Row(id=1, v="first", Op="U", load_timestamp=TS, ingestion_seq=1),
        Row(id=1, v="last", Op="U", load_timestamp=TS, ingestion_seq=2),
    ])
    out = deduplicate(df, ["id"]).collect()
    assert out[0]["v"] == "last"


def test_composite_keys(spark):
    df = make(spark, [
        Row(order_id=1, item_id=1, qty=5, load_timestamp=TS, ingestion_seq=1),
        Row(order_id=1, item_id=1, qty=7, load_timestamp=TS2, ingestion_seq=2),
        Row(order_id=1, item_id=2, qty=3, load_timestamp=TS, ingestion_seq=3),
    ])
    out = deduplicate(df, ["order_id", "item_id"]).collect()
    assert len(out) == 2
    assert {(r["order_id"], r["item_id"]): r["qty"] for r in out}[(1, 1)] == 7


def test_needs_dedup_bypass(spark):
    clean = make(spark, [Row(id=1, load_timestamp=TS), Row(id=2, load_timestamp=TS)])
    dup = make(spark, [Row(id=1, load_timestamp=TS), Row(id=1, load_timestamp=TS2)])
    assert not needs_dedup(clean, ["id"])
    assert needs_dedup(dup, ["id"])
    # bypass path returns the input unchanged (reference skips the CTAS)
    assert deduplicate(clean, ["id"], check_bypass=True) is clean


def test_needs_dedup_counts_null_key_as_one_group(spark):
    """A NULL key is a group of its own, as in the dedup window: a
    duplicate-free batch with a NULL key bypasses the window, and two
    rows sharing the NULL key are still deduplicated."""
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType()),
                           T.StructField("load_timestamp", T.TimestampType())])
    clean = spark.createDataFrame(
        [(None, "n", TS), (1, "a", TS), (2, "b", TS)], schema)
    assert not needs_dedup(clean, ["id"])
    assert deduplicate(clean, ["id"], check_bypass=True) is clean
    dup = spark.createDataFrame(
        [(None, "old", TS), (None, "new", TS2), (1, "a", TS)], schema)
    assert needs_dedup(dup, ["id"])
    rows = deduplicate(dup, ["id"], check_bypass=True).collect()
    assert sorted((r["id"] is None, r["v"]) for r in rows) == [
        (False, "a"), (True, "new")]


def test_ordering_levels_conditional(spark):
    # only the columns present contribute levels (lambda/handler.py:374-399)
    df = make(spark, [Row(id=1, load_timestamp=TS)])
    assert len(dedup_ordering(df)) == 1
    df5 = make(spark, [Row(id=1, load_timestamp=TS, Op="I", updated=TS, created=TS,
                           ingestion_seq=1)])
    assert len(dedup_ordering(df5)) == 5
    with pytest.raises(ValueError):
        dedup_ordering(make(spark, [Row(id=1, v="x")]))


def test_op_priority_unknown_is_zero(spark):
    df = spark.createDataFrame([Row(Op="D"), Row(Op="U"), Row(Op="I"), Row(Op="X"),
                                Row(Op=None)])
    vals = [r[0] for r in df.select(op_priority("Op")).collect()]
    assert vals == [3, 2, 1, 0, 0]
