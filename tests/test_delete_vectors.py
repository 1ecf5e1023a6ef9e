"""Merge-on-read delete vectors (KeyedTable(delete_vectors=True)).

Contract under test: DV mode is the TOMBSTONE contract with the
markers relocated to a sidecar — identical visible state under any
batch sequence (the mirror property below), but a delete-only batch
never rewrites a bucket (the point of the mode at 100 TB: a
one-key delete on a copy-on-write table rewrites a whole bucket)."""

import datetime as dt
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from firebolt_cdc_lambda_spark.operators.merge import KeyedTable

T0 = dt.datetime(2024, 1, 1, 0, 0)


def ts(i):
    return T0 + dt.timedelta(minutes=i)


def rows(spec, t=None):
    """spec: [(k, v, op)] or [(k, v, op, tmin)]"""
    out = []
    for s in spec:
        k, v, op = s[0], s[1], s[2]
        when = ts(s[3]) if len(s) > 3 else t
        out.append(Row(k=k, v=v, Op=op, load_timestamp=when))
    return out


def listing(spark, kt):
    """(path, size, mtime) of every bucket data file."""
    return sorted((str(st.getPath()), int(st.getLen()),
                   int(st.getModificationTime()))
                  for _, st, _ in kt._walk_data_files())


@pytest.fixture()
def dv_table(spark, tmp_path):
    kt = KeyedTable(spark, str(tmp_path / "t"), ["k"], num_buckets=4,
                    delete_vectors=True)
    kt.init(spark.createDataFrame(
        rows([(i, f"v{i}", "I") for i in range(10)], ts(0))).drop("Op"))
    return kt


def state(kt):
    return sorted((r["k"], r["v"]) for r in
                  kt.read().select("k", "v").collect())


def test_delete_only_batch_rewrites_nothing(spark, dv_table):
    """The headline: a delete-only batch touches ZERO bucket files —
    byte-identical listing — yet the rows are hidden from read(),
    lookup(), and the row count."""
    before = listing(spark, dv_table)
    n = dv_table.merge_batch(spark.createDataFrame(
        rows([(3, "x", "D"), (7, "x", "D")], ts(1))),
        version_col="load_timestamp")
    assert n == 0                                   # no buckets rewritten
    assert listing(spark, dv_table) == before       # files untouched
    assert {r["k"] for r in dv_table.read().collect()} == (
        set(range(10)) - {3, 7})
    assert dv_table.lookup([3]).isEmpty()
    assert [r["k"] for r in dv_table.lookup([4]).collect()] == [4]


def test_upsert_revives_and_stale_is_gated(spark, dv_table):
    dv_table.merge_batch(spark.createDataFrame(
        rows([(3, "x", "D")], ts(5))), version_col="load_timestamp")
    # stale resurrection attempt (older than the delete): gated
    dv_table.merge_batch(spark.createDataFrame(
        rows([(3, "ZOMBIE", "U")], ts(2))), version_col="load_timestamp")
    assert 3 not in {r["k"] for r in dv_table.read().collect()}
    # fresh upsert revives: row lands AND the DV entry is removed
    dv_table.merge_batch(spark.createDataFrame(
        rows([(3, "alive", "U")], ts(9))), version_col="load_timestamp")
    got = {r["k"]: r["v"] for r in dv_table.read().collect()}
    assert got[3] == "alive"
    dv = dv_table._read_dv()
    assert dv is None or dv.where("k = 3").isEmpty()


def test_stale_delete_vs_newer_row_is_gated(spark, dv_table):
    dv_table.merge_batch(spark.createDataFrame(
        rows([(4, "new", "U")], ts(8))), version_col="load_timestamp")
    before = listing(spark, dv_table)
    dv_table.merge_batch(spark.createDataFrame(
        rows([(4, "x", "D")], ts(3))), version_col="load_timestamp")
    assert listing(spark, dv_table) == before
    assert {r["k"]: r["v"] for r in dv_table.read().collect()}[4] == "new"
    dv = dv_table._read_dv()
    assert dv is None or dv.where("k = 4").isEmpty()


def test_unmatched_delete_gates_late_stale_insert(spark, dv_table):
    """A delete for a key never inserted still records an entry — a
    LATER stale insert for it must be gated (the tombstone contract's
    delete-then-late-stale-insert case)."""
    dv_table.merge_batch(spark.createDataFrame(
        rows([(99, "x", "D")], ts(6))), version_col="load_timestamp")
    dv_table.merge_batch(spark.createDataFrame(
        rows([(99, "LATE", "I")], ts(2))), version_col="load_timestamp")
    assert 99 not in {r["k"] for r in dv_table.read().collect()}


def test_fold_applies_physically_and_keeps_recent(spark, dv_table):
    dv_table.merge_batch(spark.createDataFrame(
        rows([(1, "x", "D", 2), (6, "x", "D", 8)])),
        version_col="load_timestamp")
    vis = state(dv_table)
    # partial fold: only the ts(2) entry is older than the cutoff
    n = dv_table.fold_delete_vectors(before_version=ts(5))
    assert n >= 1
    assert state(dv_table) == vis                  # visible state unchanged
    raw_keys = {r["k"] for r in dv_table._read_raw().collect()}
    assert 1 not in raw_keys and 6 in raw_keys     # 1 folded, 6 still hidden
    assert not dv_table._read_dv().where("k = 1").count()
    assert dv_table._read_dv().where("k = 6").count() == 1
    # full fold clears the sidecar
    dv_table.fold_delete_vectors()
    assert state(dv_table) == vis
    assert dv_table._read_dv() is None
    assert 6 not in {r["k"] for r in dv_table._read_raw().collect()}


def test_fold_drops_the_bucket_its_deletes_empty(spark, tmp_path,
                                                 dv_table):
    """A fold whose entries take every row of one bucket and some rows
    of another: the emptied bucket dir is gone, the partly deleted one
    keeps its survivors, and the snapshot equals a copy-on-write twin
    given the same batch."""
    by_bucket: dict = {}
    for r in dv_table._read_raw().select("k", "_bucket").collect():
        by_bucket.setdefault(r["_bucket"], []).append(r["k"])
    order = sorted(by_bucket, key=lambda b: len(by_bucket[b]))
    full, part = order[0], order[-1]
    assert len(by_bucket[part]) >= 2
    gone = by_bucket[full] + by_bucket[part][:1]
    eager = KeyedTable(spark, str(tmp_path / "eager"), ["k"],
                       num_buckets=4)
    eager.init(spark.createDataFrame(
        rows([(i, f"v{i}", "I") for i in range(10)], ts(0))).drop("Op"))
    batch = spark.createDataFrame(rows([(k, "x", "D") for k in gone], ts(1)))
    for kt in (eager, dv_table):
        kt.merge_batch(batch, version_col="load_timestamp")
    assert dv_table.fold_delete_vectors() == 2
    assert not (tmp_path / "t" / f"_bucket={full}").exists()
    assert full not in dv_table.file_stats()
    assert part in dv_table.file_stats()
    assert state(dv_table) == state(eager)


def test_mode_persisted_and_exclusions(spark, tmp_path):
    kt = KeyedTable(spark, str(tmp_path / "t"), ["k"], num_buckets=2,
                    delete_vectors=True)
    kt.init(spark.createDataFrame(rows([(1, "a", "I")], ts(0))).drop("Op"))
    # a fresh handle with default flags adopts the stored mode
    kt2 = KeyedTable(spark, str(tmp_path / "t"), ["k"])
    assert kt2.delete_vectors is True
    with pytest.raises(ValueError, match="delete_vectors"):
        KeyedTable(spark, str(tmp_path / "x"), ["k"],
                   delete_vectors=True, tombstones=True)
    with pytest.raises(ValueError, match="delete_vectors"):
        KeyedTable(spark, str(tmp_path / "y"), ["k"],
                   delete_vectors=True, versioned=True)
    with pytest.raises(ValueError, match="fold_delete_vectors"):
        KeyedTable(spark, str(tmp_path / "z"), ["k"]).fold_delete_vectors()


def test_rewrite_paths_fold_rows_but_keep_entries(spark, dv_table):
    """rebucket (any wholesale rewrite) drops the DV'd rows physically
    via snapshot_for_rewrite, while the sidecar entries stay — the
    out-of-order gate survives the rewrite."""
    dv_table.merge_batch(spark.createDataFrame(
        rows([(2, "x", "D")], ts(6))), version_col="load_timestamp")
    vis = state(dv_table)
    dv_table.rebucket(8)
    assert state(dv_table) == vis
    assert 2 not in {r["k"] for r in dv_table._read_raw().collect()}
    assert dv_table._read_dv().where("k = 2").count() == 1
    # the kept entry still gates a stale resurrection post-rewrite
    dv_table.merge_batch(spark.createDataFrame(
        rows([(2, "ZOMBIE", "U")], ts(3))), version_col="load_timestamp")
    assert 2 not in {r["k"] for r in dv_table.read().collect()}


def test_health_reports_dv_growth(spark, dv_table):
    r0 = dv_table.health_report()
    assert r0["dv_files"] == 0 and r0["dv_bytes"] == 0
    dv_table.merge_batch(spark.createDataFrame(
        rows([(0, "x", "D")], ts(1))), version_col="load_timestamp")
    r1 = dv_table.health_report()
    assert r1["dv_files"] >= 1 and r1["dv_bytes"] > 0
    dv_table.fold_delete_vectors()
    r2 = dv_table.health_report()
    assert r2["dv_files"] == 0


def test_mirror_property_vs_tombstones(spark, tmp_path):
    """The load-bearing equivalence: DV mode and tombstone mode fed the
    IDENTICAL out-of-order batch sequence expose identical visible
    state after every batch — the sidecar is just a different
    representation of the same contract."""
    rng = random.Random(20260816)
    dv = KeyedTable(spark, str(tmp_path / "dv"), ["k"], num_buckets=4,
                    delete_vectors=True)
    tb = KeyedTable(spark, str(tmp_path / "tb"), ["k"], num_buckets=4,
                    tombstones=True)
    base = rows([(i, f"v{i}", "I") for i in range(12)], ts(0))
    dv.init(spark.createDataFrame(base).drop("Op"))
    tb.init(spark.createDataFrame(base).drop("Op"))
    # out-of-order timestamps on purpose: draw each batch's version
    # independently so stale deletes/updates and resurrections all occur
    for step in range(10):
        spec = []
        used = set()
        for _ in range(rng.randint(1, 4)):
            k = rng.randrange(14)               # 12..13 exercise unmatched
            if k in used:
                continue
            used.add(k)
            op = rng.choice(["U", "U", "D", "I"])
            spec.append((k, f"s{step}", op, rng.randrange(1, 20)))
        if not spec:
            continue
        batch = spark.createDataFrame(rows(spec))
        dv.merge_batch(batch, version_col="load_timestamp")
        tb.merge_batch(batch, version_col="load_timestamp")
        got = sorted((r["k"], r["v"], r["load_timestamp"])
                     for r in dv.read().collect())
        exp = sorted((r["k"], r["v"], r["load_timestamp"])
                     for r in tb.read().collect())
        assert got == exp, f"diverged at step {step}"
    # and the equivalence survives a fold (physical apply)
    dv.fold_delete_vectors()
    got = sorted((r["k"], r["v"]) for r in dv.read().collect())
    exp = sorted((r["k"], r["v"]) for r in tb.read().collect())
    assert got == exp


def test_pipeline_end_to_end_with_fleet_fold(spark, tmp_path):
    """CdcPipeline(delete_vectors=True): a delete-only CDC file lands
    as sidecar entries (zero buckets rewritten), replay is a ledger
    no-op, and the fleet maintenance sweep folds entries on the
    purge cadence."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
    from firebolt_cdc_lambda_spark.streaming.fleet import CdcFleet

    root = str(tmp_path / "src")

    def write(name, rws):
        spark.createDataFrame(rws).coalesce(1).write.parquet(
            f"{root}/fair/users/2024/01/01/{name}")

    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "k"}'),
                       num_buckets=4, delete_vectors=True,
                       version_col="load_timestamp")
    assert pipe.tombstones is False      # DV mode supplants the default
    write("f0.parquet", rows([(i, f"v{i}", "I") for i in range(8)], ts(0)))
    assert pipe.process_file(
        f"{root}/fair/users/2024/01/01/f0.parquet").status == "bootstrapped"
    tgt = pipe.target_for("users", ["k"])
    assert tgt.delete_vectors is True

    write("f1.parquet", rows([(2, "x", "D"), (5, "x", "D")], ts(3)))
    before = listing(spark, tgt)
    res = pipe.process_file(f"{root}/fair/users/2024/01/01/f1.parquet")
    assert res.status == "completed" and res.buckets_rewritten == 0
    assert listing(spark, tgt) == before
    assert {r["k"] for r in tgt.read().collect()} == set(range(8)) - {2, 5}
    assert pipe.process_file(
        f"{root}/fair/users/2024/01/01/f1.parquet").status == "already_processed"

    # fleet maintenance folds the entries (purge-cadence analogue)
    fleet = CdcFleet(pipe, root, str(tmp_path / "ckpt"))
    assert fleet.run_maintenance() == {"users": "purged"}
    assert tgt._read_dv() is None
    assert {r["k"] for r in tgt._read_raw().collect()} == set(range(8)) - {2, 5}
    assert fleet.run_maintenance() == {"users": "skipped"}   # now a no-op


def test_write_dv_swaps_and_tolerates_stale_tmp(spark, dv_table):
    """Review regression: the sidecar commit is write-then-SWAP (a plain
    overwrite clears the destination before the job commits — a crash
    there would silently resurrect every deleted row).  A stale
    __dv__tmp left by a crashed writer must not break the next
    commit."""
    import os
    tmp_dir = dv_table._dv_path + "__tmp"
    os.makedirs(tmp_dir, exist_ok=True)            # crashed-writer residue
    open(f"{tmp_dir}/garbage", "w").write("x")
    dv_table.merge_batch(spark.createDataFrame(
        rows([(3, "x", "D"), (7, "x", "D")], ts(1))),
        version_col="load_timestamp")
    assert not os.path.exists(tmp_dir)             # swapped, not left over
    assert dv_table._read_dv().count() == 2
    assert {r["k"] for r in dv_table.read().collect()} == (
        set(range(10)) - {3, 7})


def test_insert_deletes_with_dv_rejected(spark, tmp_path):
    """Review regression: DV mode diverts deletes to the sidecar before
    merge_cdc could insert unmatched deletes as live rows, so the combo
    would silently break insert_deletes' reference parity."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
    with pytest.raises(ValueError, match="mutually exclusive"):
        CdcPipeline(spark, str(tmp_path / "wh"),
                    TableKeys.from_json('{"t": "k"}'),
                    insert_deletes=True, delete_vectors=True)


def test_dv_backup_swap_crash_states_all_readable(spark, dv_table):
    """Advice regression (round 7): the old delete-then-rename swap had
    a window (after delete(primary), before rename(tmp)) in which the
    sidecar was GONE — and a lost sidecar reads as "no deletes",
    resurrecting every deleted row.  The swap now renames the old
    sidecar aside first; _read_dv falls back to the backup, so every
    crash point leaves a readable committed state."""
    import os
    import shutil
    dv_table.merge_batch(spark.createDataFrame(
        rows([(3, "x", "D"), (7, "x", "D")], ts(1))),
        version_col="load_timestamp")
    primary, bak = dv_table._dv_path, dv_table._dv_path + "__old"
    # crash state A: between the two renames — only the backup exists
    shutil.move(primary, bak)
    assert dv_table._read_dv().count() == 2        # fallback reads it
    assert {r["k"] for r in dv_table.read().collect()} == (
        set(range(10)) - {3, 7})                   # deletes still hidden
    # the next commit swaps cleanly over the residue and cleans it up
    dv_table.merge_batch(spark.createDataFrame(
        rows([(5, "x", "D")], ts(2))), version_col="load_timestamp")
    assert os.path.exists(primary) and not os.path.exists(bak)
    assert dv_table._read_dv().count() == 3
    # crash state B: after rename(tmp->primary), before backup cleanup —
    # both exist; the PRIMARY (newer) must win
    shutil.copytree(primary, bak)
    dv_table.merge_batch(spark.createDataFrame(
        rows([(9, "x", "D")], ts(3))), version_col="load_timestamp")
    assert dv_table._read_dv().count() == 4
    assert not os.path.exists(bak)
    # reset clears BOTH: a stale backup surviving a reset would hide
    # live rows in the re-initialized table
    shutil.copytree(primary, bak)
    dv_table.init(spark.createDataFrame(
        rows([(i, f"n{i}", "I") for i in range(10)], ts(9))).drop("Op"))
    assert not os.path.exists(bak) and dv_table._read_dv() is None
    assert len(dv_table.read().collect()) == 10


def test_merge_dv_rejects_insert_deletes_direct(spark, dv_table):
    """Advice regression (round 7): CdcPipeline rejects the combo at
    construction, but a DIRECT operator call used to be silently inert
    (_merge_dv diverts delete rows to the sidecar before merge_cdc
    could insert them as live rows)."""
    with pytest.raises(ValueError, match="insert_deletes"):
        dv_table.merge_batch(spark.createDataFrame(
            rows([(3, "x", "D")], ts(1))), insert_deletes=True)


def test_fused_bucket_hints_mixed_dedup_and_null_op(spark, tmp_path):
    """Round-13 optimization regression: the delete/upsert bucket sets
    ride _merge_impl's fused aggregation.  Three hazards pinned here:
    (1) a RAW batch with duplicate keys (did_dedup) must NOT trust the
    pre-dedup sets — a key whose D row loses to a newer U row belongs
    to the upsert leg only; (2) a NULL Op row is an upsert (the
    _is_delete_sql contract); (3) a delete-only batch takes the
    skip-the-upsert-leg path and still lands its sidecar entries.
    Oracle: an eager tombstone-mode twin fed the same batches."""
    def mk(mode_kwargs, name):
        kt = KeyedTable(spark, str(tmp_path / name), ["k"], num_buckets=4,
                        **mode_kwargs)
        kt.init(spark.createDataFrame(
            rows([(i, f"v{i}", "I") for i in range(10)], ts(0))).drop("Op"))
        return kt

    dv = mk(dict(delete_vectors=True), "dv")
    tw = mk(dict(tombstones=True), "tw")
    # raw batch: key 3 has D then newer U (U must win end-to-end);
    # key 4 has U then newer D (D wins); key 5 NULL Op (upsert);
    # key 6 plain delete
    batch = spark.createDataFrame(
        rows([(3, "d3", "D", 1), (3, "u3", "U", 2),
              (4, "u4", "U", 1), (4, "d4", "D", 2),
              (5, "n5", None, 2), (6, "x6", "D", 2)]))
    for t in (dv, tw):
        t.merge_raw_batch(batch, version_col="load_timestamp")
    assert state(dv) == state(tw)
    assert (3, "u3") in state(dv) and (5, "n5") in state(dv)
    assert not any(k in (4, 6) for k, _ in state(dv))
    # delete-only follow-up (the skip path): entries land, state matches
    batch2 = spark.createDataFrame(rows([(0, "x", "D"), (9, "x", "D")], ts(3)))
    before = listing(spark, dv)
    for t in (dv, tw):
        t.merge_batch(batch2, version_col="load_timestamp")
    assert listing(spark, dv) == before          # still zero rewrites
    assert state(dv) == state(tw)
    assert not any(k in (0, 9) for k, _ in state(dv))
    # stale resurrection attempt for the deduped key stays gated
    stale = spark.createDataFrame(rows([(4, "old", "U", 0)]))
    for t in (dv, tw):
        t.merge_batch(stale, version_col="load_timestamp")
    assert state(dv) == state(tw)
    assert not any(k == 4 for k, _ in state(dv))
