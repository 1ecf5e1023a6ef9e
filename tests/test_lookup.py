"""Literal-key lookups mirror ``read()`` filtered to the keys.

A literal lookup hashes its keys on the driver and filters the pruned
read with an ``isin``; a bucket id that disagrees with the stored one
reads the wrong bucket and answers empty.  Each write mode is checked
against its own full read, with deleted, absent and duplicate keys and
tuples holding a None in the probe."""

import datetime as dt
import random

import pytest
from pyspark.sql import types as T

from firebolt_cdc_lambda_spark.operators.merge import KeyedTable

TS = dt.datetime(2024, 1, 1)
N = 160

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()), T.StructField("k", T.LongType()),
    T.StructField("n", T.IntegerType()), T.StructField("s", T.StringType()),
    T.StructField("v", T.StringType())])
STAGING = T.StructType(SCHEMA.fields + [
    T.StructField("Op", T.StringType()),
    T.StructField("load_timestamp", T.TimestampType())])


def _row(i, v="v0"):
    return (i, i // 4, i % 4, f"ключ'\\-{i}", v)


def _key(keys, r):
    return tuple(r[k] for k in keys)


def _mirror(kt, probe, **kw):
    want = {p if isinstance(p, tuple) else (p,) for p in probe}
    exp = sorted(tuple(r) for r in kt.read(**kw).collect()
                 if _key(kt.keys, r.asDict()) in want)
    got = sorted(tuple(r) for r in kt.lookup(probe, **kw).collect())
    assert got == exp
    return got


def _play(spark, kt, rnd):
    """Seeded updates, deletes and inserts; returns every key ever
    written (deleted ones included)."""
    ids = list(range(N))
    upd = rnd.sample(ids, 20)
    dele = rnd.sample([i for i in ids if i not in upd], 20)
    ins = list(range(N, N + 10))
    rows = ([_row(i, "upd") + ("U", TS) for i in upd]
            + [_row(i) + ("D", TS) for i in dele]
            + [_row(i, "new") + ("I", TS) for i in ins])
    kt.merge_batch(spark.createDataFrame(rows, STAGING))
    return ids + ins


MODES = [
    ("cow", {}, ["id"]),
    ("tombstones", {"tombstones": True}, ["k", "n"]),
    ("delete_vectors", {"delete_vectors": True}, ["s"]),
    ("delta_log", {"delta_upserts": True}, ["k", "n"]),
]


@pytest.mark.parametrize("mode, opts, keys", MODES,
                         ids=[m[0] for m in MODES])
def test_literal_lookup_mirrors_read(spark, tmp_path, mode, opts, keys):
    rnd = random.Random(len(mode))
    kt = KeyedTable(spark, str(tmp_path / "t"), keys, num_buckets=8,
                    **opts)
    kt.init(spark.createDataFrame([_row(i) for i in range(N)], SCHEMA))
    ever = _play(spark, kt, rnd)
    if mode == "delta_log":
        assert kt._read_delta() is not None     # the backlog is unfolded
    rows = {i: dict(zip(SCHEMA.names, _row(i))) for i in ever + [999]}
    picks = rnd.sample(ever, 12) + [999]        # 999 was never written
    probe = [_key(keys, rows[i]) for i in picks]
    probe += probe[:3]                          # duplicates
    if len(keys) == 1:
        probe = [p[0] for p in probe] + [None]
    else:
        probe += [(None, 1), (rows[picks[0]]["k"], None)]
    got = _mirror(kt, probe)
    assert 0 < len(got) < len(picks)
    assert kt.lookup([]).collect() == []


def test_as_of_lookup_across_rebucket_mirrors_read(spark, tmp_path):
    rnd = random.Random(7)
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4,
                    versioned=True)
    kt.init(spark.createDataFrame([_row(i) for i in range(N)], SCHEMA))
    _play(spark, kt, rnd)
    kt.rebucket(16)
    _play(spark, kt, rnd)
    probe = rnd.sample(range(N + 10), 15)
    for v in range(kt.latest_epoch() + 1):
        _mirror(kt, probe, as_of=v)
    _mirror(kt, probe)


def test_date_key_takes_the_spark_collect(spark, tmp_path):
    kt = KeyedTable(spark, str(tmp_path / "t"), ["d", "x"], num_buckets=8,
                    tombstones=True)
    day = dt.date(2024, 1, 1)
    kt.init(spark.createDataFrame(
        [(day + dt.timedelta(days=i % 20), float(i % 3), i)
         for i in range(60)], "d DATE, x DOUBLE, v BIGINT"))
    probe = [(day, 0.0), (day + dt.timedelta(days=4), 1.0),
             (day + dt.timedelta(days=4), 1.0), (day, 0.5), (None, 1.0)]
    assert len(_mirror(kt, probe)) == 2


@pytest.mark.parametrize("keys, bad", [
    (["id"], 1.5), (["id"], "5"), (["id", "n"], (1, 2 ** 40))],
    ids=["float-for-long", "str-for-long", "int-overflow"])
def test_lossy_literal_raises_like_create_dataframe(spark, tmp_path,
                                                    keys, bad):
    kt = KeyedTable(spark, str(tmp_path / "t"), keys, num_buckets=4)
    kt.init(spark.createDataFrame([_row(i) for i in range(8)], SCHEMA))
    kschema = T.StructType([SCHEMA[k] for k in keys])
    row = bad if isinstance(bad, tuple) else (bad,)
    with pytest.raises(Exception) as want:
        spark.createDataFrame([row], kschema)
    with pytest.raises(type(want.value)) as got:
        kt.lookup([bad])
    assert str(got.value) == str(want.value)
