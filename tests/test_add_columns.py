"""``KeyedTable.add_columns``, the ALTER TABLE ADD COLUMN of a table.

On an unversioned table the ADD is metadata only: the schema sidecar
gains the columns and nothing else is read or written.  The twin
property holds it to the rewrite route it replaces,
``rewrite(evolve_target(snapshot_for_rewrite(), report))`` (still
public API): the same sidecar text, the same reads and lookups, and
the same state after every later write and maintenance op, in each
unversioned write mode."""

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from firebolt_cdc_lambda_spark.operators import keyhash
from firebolt_cdc_lambda_spark.operators.evolution import (
    SchemaReport, evolve_target)
from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
from firebolt_cdc_lambda_spark.session import conf_scope

T0 = dt.datetime(2024, 1, 1)
VC = "load_timestamp"
ADDED = [("e", T.StringType()), ("n", T.IntegerType())]
MODES = {"plain": {}, "tombstones": {"tombstones": True},
         "delete_vectors": {"delete_vectors": True},
         "delta_log": {"delta_upserts": True}}



def _route(kt, fields):
    """The rewrite route of an ADD: the whole table rewritten with the
    new columns NULL."""
    kt.rewrite(evolve_target(kt.snapshot_for_rewrite(),
                             SchemaReport(added=list(fields))))


def _init(spark):
    return spark.createDataFrame(
        [(k, f"v{k}", T0) for k in range(0, 40, 2)],
        T.StructType([T.StructField("id", T.LongType(), False),
                      T.StructField("v", T.StringType()),
                      T.StructField(VC, T.TimestampType())]))


def _batch(spark, rng, t, added):
    """Twelve distinct keys, old and new: a quarter deletes, a few rows
    stale on the version column; with ``added`` the rows carry the new
    columns, some NULL."""
    fields = [T.StructField("id", T.LongType()),
              T.StructField("v", T.StringType()),
              T.StructField("Op", T.StringType()),
              T.StructField(VC, T.TimestampType())]
    if added:
        fields += [T.StructField(n, ty) for n, ty in ADDED]
    out = []
    for k in rng.sample(range(60), 12):
        when = T0 + dt.timedelta(minutes=t - 5 * (rng.random() < .15))
        row = (k, f"v{k}-{t}", "D" if rng.random() < .25 else "U", when)
        if added:
            row += (rng.choice([None, f"e{k}-{t}"]),
                    rng.choice([None, k * 10 + t]))
        out.append(row)
    return spark.createDataFrame(out, T.StructType(fields))


def _rows(df):
    return sorted(df.collect())


def _assert_twins(spark, a, b, probe):
    assert a._read_sidecar("_schema.json") == b._read_sidecar("_schema.json")
    ra, rb = a.read(), b.read()
    assert ra.schema == rb.schema
    assert _rows(ra) == _rows(rb)
    keys = spark.createDataFrame([(k,) for k in probe], "id long")
    assert _rows(a.lookup(probe)) == _rows(b.lookup(probe))
    assert _rows(a.lookup(keys)) == _rows(b.lookup(keys))


def _listing(kt):
    """(path, size, mtime) of every file of the table and its log and
    delete-vector siblings, the schema sidecar and its checksum aside."""
    out = []
    for root in (kt.path, kt._dv_path, kt._delta_path):
        fs, path, _ = kt._fs_and_path(root)
        if not fs.exists(path):
            continue
        it = fs.listFiles(path, True)
        while it.hasNext():
            st = it.next()
            if "_schema.json" not in st.getPath().getName():
                out.append((str(st.getPath()), int(st.getLen()),
                            int(st.getModificationTime())))
    return sorted(out)


@pytest.mark.parametrize("mode", list(MODES))
def test_add_columns_matches_the_rewrite_route(spark, tmp_path, mode):
    rng = random.Random(11)
    meta, route = (KeyedTable(spark, str(tmp_path / name), ["id"],
                              num_buckets=4, **MODES[mode])
                   for name in ("meta", "route"))
    twins = (meta, route)
    probe = [0, 3, 8, 21, 30, 44, 59, 77]

    def both(op):
        for kt in twins:
            op(kt)

    both(lambda kt: kt.init(_init(spark)))
    for t in (1, 2):
        stg = _batch(spark, rng, t, added=False)
        both(lambda kt: kt.merge_batch(stg, version_col=VC))

    files, version = _listing(meta), meta.table_version
    meta.add_columns(ADDED)
    _route(route, ADDED)
    # metadata only: no file but the sidecar changed, no version bump
    assert _listing(meta) == files
    assert KeyedTable(spark, meta.path, ["id"]).table_version == version
    assert meta.read().columns[-2:] == ["e", "n"]
    _assert_twins(spark, meta, route, probe)

    maintenance = {
        "tombstones": lambda kt: kt.purge_tombstones(),
        "delete_vectors": lambda kt: kt.fold_delete_vectors(),
        "delta_log": lambda kt: kt.fold_deltas()}
    steps = [("merge", True), ("merge", False)]
    if mode in maintenance:
        steps.append(("maintenance", None))
    steps += [("compact", None), ("rebucket", None), ("merge", True)]
    for t, (op, added) in enumerate(steps, start=3):
        if op == "merge":
            stg = _batch(spark, rng, t, added)
            both(lambda kt: kt.merge_batch(stg, version_col=VC))
        elif op == "maintenance":
            both(maintenance[mode])
        elif op == "compact":
            both(lambda kt: kt.compact(target_bytes=1 << 20))
        else:
            both(lambda kt: kt.rebucket(8))
        _assert_twins(spark, meta, route, probe)


def test_compact_keeps_the_values_of_added_columns(spark, tmp_path):
    """Compaction reads every packed group in one scan.  After a
    metadata-only ADD the groups of untouched buckets hold files
    without the new column and those of merged buckets files with it;
    the scan's schema comes from the sidecar, so no value is lost.  The
    merged buckets are the last two: a schema inferred from the first
    file's footer would lack the column."""
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    keys = [k for k in range(40)
            if keyhash.bucket((k,), [T.LongType()], 4) in (2, 3)]
    # several small files in every bucket, before and after the ADD
    with conf_scope(spark, **{"spark.sql.files.maxRecordsPerFile": "3"}):
        kt.init(spark.range(40).selectExpr("id", "CAST(id AS STRING) AS v"))
        kt.add_columns([("e", T.StringType())])
        kt.merge_batch(spark.createDataFrame(
            [(k, f"w{k}", f"e{k}", "U") for k in keys],
            "id long, v string, e string, Op string"))
    before = _rows(kt.read())
    assert sum(r["e"] is not None for r in before) == len(keys)
    out = kt.compact(target_bytes=1 << 20)
    assert set(out["buckets"]) == {0, 1, 2, 3}
    assert _rows(kt.read()) == before
    assert kt.read().where(F.col("e").isNotNull()).count() == len(keys)


def test_add_columns_stores_nested_fields_as_the_rewrite_route(
        spark, tmp_path):
    """A pinned read serves every field nullable, nested ones too, so
    the rewrite route stores them nullable; the metadata-only ADD
    stores the same text."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("tags", T.ArrayType(T.StringType(), False), False),
        T.StructField("attrs", T.StructType(
            [T.StructField("a", T.IntegerType(), False)]), False),
        T.StructField("m", T.MapType(
            T.StringType(), T.ArrayType(T.LongType(), False), False))])
    df = spark.createDataFrame(
        [(k, [f"t{k}"], (k,), {"k": [k]}) for k in range(8)], schema)
    meta, route = (KeyedTable(spark, str(tmp_path / n), ["id"],
                              num_buckets=2) for n in ("meta", "route"))
    for kt in (meta, route):
        kt.init(df)
    meta.add_columns(ADDED)
    _route(route, ADDED)
    assert (meta._read_sidecar("_schema.json")
            == route._read_sidecar("_schema.json"))
    assert _rows(meta.read()) == _rows(route.read())


def test_delete_vectors_keep_tombstone_parity_across_an_add(
        spark, tmp_path):
    """Delete vectors mirror tombstones: an upsert that resurrects a
    deleted key keeps the stored values of the columns it lacks.  The
    ADD leaves vector-hidden rows in place, so that holds across it.
    The rewrite route drops those rows (``snapshot_for_rewrite`` folds
    them), after which the same upsert leaves the columns NULL."""
    init = spark.createDataFrame([(1, "a", "w1"), (2, "b", "w2")],
                                 "id long, v string, w string")
    tables = {name: KeyedTable(spark, str(tmp_path / name), ["id"],
                               num_buckets=2, **mode)
              for name, mode in (("tomb", {"tombstones": True}),
                                 ("dv", {"delete_vectors": True}),
                                 ("route", {"delete_vectors": True}))}
    for kt in tables.values():
        kt.init(init)
        kt.merge_batch(spark.createDataFrame(
            [(1, "a", "D")], "id long, v string, Op string"))
    tables["tomb"].add_columns(ADDED[:1])
    tables["dv"].add_columns(ADDED[:1])
    _route(tables["route"], ADDED[:1])
    for kt in tables.values():
        kt.merge_batch(spark.createDataFrame(
            [(1, "a2", "e1", "U")], "id long, v string, e string, Op string"))
    got = {name: _rows(kt.read()) for name, kt in tables.items()}
    assert got["tomb"] == got["dv"]
    assert [r["w"] for r in got["dv"]] == ["w1", "w2"]
    assert [r["w"] for r in got["route"]] == [None, "w2"]
