"""StatsIndex: per-file zone-map (min/max) skipping for range
predicates, fail-open staleness.

Invariants pinned here (the BloomIndex invariant family, for ranges):
  * NO FALSE NEGATIVES, ever: scan == full-scan filter, in every
    staleness state (fresh, post-merge dirty, post-rebuild voided).
  * pruning actually prunes — ON A RANGE-CLUSTERED LAYOUT
    (cluster_by(col, max_records_per_file=...)); on an unclustered
    hash layout the index honestly degrades toward a full read.
  * merges flag exactly their touched buckets dirty; refresh
    recomputes only those and restores pruning.
  * wholesale rewrites (rebucket) void the index (candidate_files ->
    None) and scan falls back to a correct full read.
  * a stats row referencing a vanished file (out-of-contract state)
    degrades to a full scan, never a miss.
"""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
from firebolt_cdc_lambda_spark.operators.stats import StatsIndex


def _rows(spark, ids, ts=lambda i: i * 10):
    return spark.createDataFrame([
        Row(id=i, ts=ts(i), payload=f"p{i}",
            Op="U", load_timestamp=dt.datetime(2024, 1, 2)) for i in ids])


@pytest.fixture()
def table(spark, tmp_path):
    """400 rows, 4 buckets, range-clustered on ts into ~25-row files
    (4-5 files per bucket, each a tight contiguous ts range)."""
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    kt.init(_rows(spark, range(400)).drop("Op", "load_timestamp"))
    kt.cluster_by(["ts"], max_records_per_file=25)
    return kt


def _expect(table, lo, hi):
    return sorted(
        r["id"] for r in
        table.read().where(F.col("ts").between(lo, hi)).collect())


def test_scan_equals_filter_and_prunes(table):
    ix = StatsIndex(table, "ts")
    n_files = ix.build()
    total = sum(table.file_stats().values())
    assert n_files == total >= 16          # multi-file buckets
    got = sorted(r["id"] for r in ix.scan(lo=100, hi=300).collect())
    assert got == _expect(table, 100, 300) and got
    # a ~5% range reads a strict subset of files on the clustered layout
    cands = ix.candidate_files(lo=100, hi=300)
    assert cands is not None and 0 < len(cands) < total
    # out-of-domain probe: zero candidates, empty result, right schema
    assert ix.candidate_files(lo=10**9, hi=2 * 10**9) == []
    empty = ix.scan(lo=10**9, hi=2 * 10**9)
    assert empty.count() == 0 and "ts" in empty.columns
    # half-open probes prune too
    lo_only = ix.candidate_files(lo=3500)
    assert lo_only is not None and 0 < len(lo_only) < total
    assert (sorted(r["id"] for r in ix.scan(lo=3500).collect())
            == sorted(range(350, 400)))


def test_unclustered_layout_honest_negative(spark, tmp_path):
    """On a plain hash layout (one full-range file per bucket) the
    zone map cannot exclude anything for an in-domain range — the
    index degrades to reading every file, correctly."""
    kt = KeyedTable(spark, str(tmp_path / "u"), ["id"], num_buckets=4)
    kt.init(_rows(spark, range(400)).drop("Op", "load_timestamp"))
    ix = StatsIndex(kt, "ts")
    total = ix.build()
    cands = ix.candidate_files(lo=100, hi=300)
    assert len(cands) == total            # nothing pruned — honestly
    got = sorted(r["id"] for r in ix.scan(lo=100, hi=300).collect())
    assert got == _expect(kt, 100, 300)


def test_merge_marks_dirty_and_stays_correct_before_refresh(spark, table):
    ix = StatsIndex(table, "ts")
    ix.build()
    # merge moves one row far outside its file's built range and adds
    # a brand-new row beyond the built domain
    table.merge_batch(_rows(spark, [7, 400], ts=lambda i: 99_000 + i))
    side = ix._load_side()
    assert side["dirty"], "merge must flag its touched buckets"
    got = sorted(r["id"] for r in ix.scan(lo=98_000, hi=100_000).collect())
    assert got == [7, 400]                # both found via dirty fail-open
    # id 7's OLD position (ts=70) must no longer match
    assert 7 not in {r["id"] for r in ix.scan(lo=60, hi=80).collect()}
    # refresh recomputes exactly the dirty buckets and restores pruning
    dirty = sorted(int(b) for b in side["dirty"])
    assert ix.refresh() == dirty
    assert ix._load_side()["dirty"] == []
    assert sorted(r["id"] for r in
                  ix.scan(lo=98_000, hi=100_000).collect()) == [7, 400]
    total = sum(table.file_stats().values())
    cands = ix.candidate_files(lo=98_000, hi=100_000)
    assert cands is not None and 0 < len(cands) < total


def test_wholesale_rewrite_voids_index_fail_open(spark, table):
    ix = StatsIndex(table, "ts")
    ix.build()
    table.rebucket(8)
    assert ix.candidate_files(lo=0, hi=50) is None
    got = sorted(r["id"] for r in ix.scan(lo=0, hi=50).collect())
    assert got == _expect(table, 0, 50) == list(range(6))
    # refresh after a void does a full rebuild and pruning returns
    ix.refresh()
    cands = ix.candidate_files(lo=0, hi=50)
    assert cands is not None


def test_vanished_file_degrades_to_full_scan(spark, table):
    """A built, non-dirty stats row referencing a file the listing no
    longer has is out-of-contract — the probe must refuse to guess
    (full scan), never silently skip the data that replaced it."""
    ix = StatsIndex(table, "ts")
    ix.build()
    # simulate an out-of-band rewrite of one bucket dir (no dirty flag,
    # no version bump — exactly the broken state)
    import glob
    import os
    f = glob.glob(f"{table.path}/_bucket=1/part-*.parquet")[0]
    os.rename(f, f + ".gone")
    assert ix.candidate_files(lo=0, hi=10**6) is None
    os.rename(f + ".gone", f)             # restore for the teardown


def test_nulls_never_match_and_all_null_file_excluded(spark, tmp_path):
    kt = KeyedTable(spark, str(tmp_path / "n"), ["id"], num_buckets=2)
    rows = ([Row(id=i, ts=i * 10, payload=f"p{i}") for i in range(50)]
            + [Row(id=i, ts=None, payload="null-ts")
               for i in range(50, 80)])
    kt.init(spark.createDataFrame(rows))
    ix = StatsIndex(kt, "ts")
    ix.build()
    got = sorted(r["id"] for r in ix.scan(lo=0, hi=10**6).collect())
    assert got == list(range(50))         # NULL ts rows never match
    side_stats = spark.read.parquet(ix.stats_path)
    # per-file null bookkeeping is recorded for health tooling
    tot = side_stats.agg(F.sum("n_rows"), F.sum("n_notnull")).collect()[0]
    assert (int(tot[0]), int(tot[1])) == (80, 50)


def test_reinit_drops_orphan_stats_index(spark, tmp_path):
    import os
    path = str(tmp_path / "t")
    kt = KeyedTable(spark, path, ["id"], num_buckets=4)
    kt.init(_rows(spark, range(50)).drop("Op", "load_timestamp"))
    StatsIndex(kt, "ts").build()
    import shutil
    shutil.rmtree(path)
    assert os.path.exists(path + "__stats_ts.json")
    kt2 = KeyedTable(spark, path, ["id"], num_buckets=4)
    kt2.init(_rows(spark, range(30), ts=lambda i: -i)
             .drop("Op", "load_timestamp"))
    assert not os.path.exists(path + "__stats_ts.json")
    assert kt2.stats_columns == []
    ix = StatsIndex(kt2, "ts")
    assert ix.candidate_files(lo=-10, hi=0) is None   # no orphan match
    assert ix.scan(lo=-10, hi=0).count() == 11        # full-scan fallback


def test_versioned_table_scan_refresh_and_time_travel(spark, tmp_path):
    """Versioned support (v1 exclusion lifted, round 8): the index
    describes the LATEST snapshot — it reads through the epoch
    resolution at build, a versioned merge's new epoch rides the same
    dirty flag, refresh re-resolves the live leaves, purge_versions
    (dead epochs only) leaves it intact, and time travel is untouched
    by (and never consults) the index."""
    kt = KeyedTable(spark, str(tmp_path / "v"), ["id"], num_buckets=4,
                    versioned=True)
    kt.init(_rows(spark, range(200)).drop("Op", "load_timestamp"))
    kt.cluster_by(["ts"], max_records_per_file=20)     # epoch 1, multi-file
    ix = StatsIndex(kt, "ts")
    total = ix.build()
    assert total > 4                                   # multi-file epochs
    cands = ix.candidate_files(lo=100, hi=400)
    assert cands is not None and 0 < len(cands) < total
    assert (sorted(r["id"] for r in ix.scan(lo=100, hi=400).collect())
            == _expect(kt, 100, 400))
    # versioned merge: new epoch for the touched buckets, dirty-flagged
    kt.merge_batch(_rows(spark, [3, 500], ts=lambda i: 77_000 + i))
    assert ix._load_side()["dirty"]
    got = sorted(r["id"] for r in ix.scan(lo=77_000, hi=78_000).collect())
    assert got == [3, 500]                             # dirty fail-open
    assert 3 not in {r["id"] for r in ix.scan(lo=20, hi=40).collect()}
    ix.refresh()
    assert ix._load_side()["dirty"] == []
    assert sorted(r["id"] for r in
                  ix.scan(lo=77_000, hi=78_000).collect()) == [3, 500]
    # history stays readable and is NOT affected by the index
    assert 3 in {r["id"] for r in kt.read(as_of=1)
                 .where(F.col("ts").between(20, 40)).collect()}
    # purge removes dead epochs only; the index still serves correctly
    kt.purge_versions(keep_last=1)
    assert (sorted(r["id"] for r in ix.scan(lo=100, hi=400).collect())
            == _expect(kt, 100, 400))


def test_delete_vectors_scan_hides_dv_rows(spark, tmp_path):
    """DV-mode interplay: scan rides _hide_tombstones, so sidecar
    deletes are invisible through the pruned path too."""
    kt = KeyedTable(spark, str(tmp_path / "dv"), ["id"], num_buckets=4,
                    delete_vectors=True)
    kt.init(_rows(spark, range(100)).drop("Op", "load_timestamp"))
    kt.cluster_by(["ts"], max_records_per_file=10)
    ix = StatsIndex(kt, "ts")
    ix.build()
    kt.merge_batch(_rows(spark, [12, 13]).withColumn("Op", F.lit("D")),
                   version_col="load_timestamp")
    got = sorted(r["id"] for r in ix.scan(lo=100, hi=200).collect())
    assert got == [10, 11, 14, 15, 16, 17, 18, 19, 20]


def test_pipeline_maintenance_refreshes_stats(spark, tmp_path):
    """CdcPipeline.refresh_stats_indexes (the run_maintenance cadence
    hook) pays the dirty-bucket debt down for zone maps on the same
    cadence as bloom indexes."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"t": "id"}'), num_buckets=8)
    target = pipe.target_for("t", ["id"])
    target.init(_rows(spark, range(100)).drop("Op", "load_timestamp"))
    ix = StatsIndex(target, "ts")
    ix.build()
    assert pipe.refresh_stats_indexes("t") == []           # nothing dirty
    t2 = pipe.target_for("t", ["id"])                      # fresh handle
    t2.merge_batch(_rows(spark, [3, 4]))
    assert pipe.refresh_stats_indexes("t") == ["ts"]
    assert StatsIndex(t2, "ts")._load_side()["dirty"] == []
    assert pipe.refresh_stats_indexes("nope") == []        # unconfigured


def test_randomized_scans_no_false_negatives(spark, tmp_path):
    """Randomized property: arbitrary merge/refresh interleavings and
    random range probes — scan must equal the full-scan filter every
    time, in every staleness state."""
    import random
    rng = random.Random(8)
    kt = KeyedTable(spark, str(tmp_path / "r"), ["id"], num_buckets=4)
    kt.init(_rows(spark, range(200)).drop("Op", "load_timestamp"))
    kt.cluster_by(["ts"], max_records_per_file=20)
    ix = StatsIndex(kt, "ts")
    ix.build()
    next_id = 200
    for step in range(6):
        action = rng.choice(["merge", "merge", "refresh"])
        if action == "merge":
            ids = rng.sample(range(next_id), k=3) + [next_id]
            next_id += 1
            kt.merge_batch(_rows(
                spark, ids, ts=lambda i, s=step: i * 10 + s * 7))
        else:
            ix.refresh()
        lo = rng.randrange(-100, 2200)
        hi = lo + rng.randrange(0, 900)
        got = sorted(r["id"] for r in ix.scan(lo=lo, hi=hi).collect())
        exp = sorted(r["id"] for r in kt.read()
                     .where(F.col("ts").between(lo, hi)).collect())
        assert got == exp, f"step {step}: [{lo},{hi}] {got} != {exp}"


def test_health_report_tracks_index_footprint(spark, tmp_path):
    """health_report surfaces secondary-index bytes + accumulated
    dirty buckets (the refresh signal, like dv_bytes for folds)."""
    from firebolt_cdc_lambda_spark.operators.bloom import BloomIndex
    kt = KeyedTable(spark, str(tmp_path / "h"), ["id"], num_buckets=4)
    kt.init(_rows(spark, range(100)).drop("Op", "load_timestamp"))
    rep0 = kt.health_report()
    assert "index_columns" not in rep0             # no indexes yet
    StatsIndex(kt, "ts").build()
    BloomIndex(kt, "payload").build()
    kt2 = KeyedTable(spark, str(tmp_path / "h"), ["id"])  # fresh handle
    rep = kt2.health_report()
    assert sorted(rep["index_columns"]) == ["bloom:payload", "stats:ts"]
    assert rep["index_bytes"] > 0
    assert rep["index_dirty_buckets"] == 0
    kt2.merge_batch(_rows(spark, [1, 2]))
    rep2 = kt2.health_report()
    assert rep2["index_dirty_buckets"] > 0         # both sidecars flagged


def test_mixed_predicate_bloom_intersection(spark, tmp_path):
    """Composing the equality index with the range index: candidate
    files for (category = X AND ts in [lo, hi]) are the range
    candidates RESTRICTED to the bloom's candidate buckets — strictly
    fewer than either prune alone on this layout, with the combined
    filter still exact."""
    from firebolt_cdc_lambda_spark.operators.bloom import BloomIndex
    kt = KeyedTable(spark, str(tmp_path / "m"), ["id"], num_buckets=8)
    df = spark.createDataFrame([
        Row(id=i, ts=i * 10, category=f"cat_{i % 797}", payload=f"p{i}")
        for i in range(800)])
    kt.init(df)
    kt.cluster_by(["ts"], max_records_per_file=25)
    six = StatsIndex(kt, "ts")
    six.build()
    bix = BloomIndex(kt, "category", m_bits=65536)
    bix.build()
    total = sum(kt.file_stats().values())
    rng = six.candidate_files(lo=1000, hi=3000)
    bks = bix.candidate_buckets(["cat_150"])
    both = six.candidate_files(lo=1000, hi=3000, buckets=bks)
    assert bks is not None and rng is not None and both is not None
    assert len(both) <= min(len(rng), total)
    assert len(both) < len(rng)            # the intersection binds here
    got = sorted(r["id"] for r in
                 six.scan(lo=1000, hi=3000, buckets=bks)
                 .where(F.col("category") == "cat_150").collect())
    exp = sorted(r["id"] for r in
                 kt.read().where((F.col("category") == "cat_150")
                                 & F.col("ts").between(1000, 3000))
                 .collect())
    assert got == exp and got
    # bloom voided (None = no information) must widen, never narrow
    wide = six.candidate_files(lo=1000, hi=3000, buckets=None)
    assert set(rng) == set(wide)


def test_zorder_multifile_prunes_both_dims_at_file_level(spark, tmp_path):
    """Z-order + max_records_per_file: per-file zone maps are tight on
    BOTH z-ordered columns, so a box predicate file-prunes on each
    dimension and their candidate-set INTERSECTION prunes harder than
    either alone.  Under lexicographic cluster_by only the leading
    column's file stats are selective (the trailing column spans the
    full domain in every file) — the file-level mirror of
    test_zorder's row-group result."""
    from pyspark.sql import Row as R
    rows = [R(id=i, x=i % 64, y=(i * 37) % 64) for i in range(4096)]

    def build(path, layout):
        kt = KeyedTable(spark, path, ["id"], num_buckets=2)
        kt.init(spark.createDataFrame(rows))
        if layout == "z":
            kt.zorder_by(["x", "y"], max_records_per_file=128)
        else:
            kt.cluster_by(["x", "y"], max_records_per_file=128)
        sx, sy = StatsIndex(kt, "x"), StatsIndex(kt, "y")
        sx.build(), sy.build()
        return kt, sx, sy

    for layout in ("z", "lex"):
        kt, sx, sy = build(str(tmp_path / layout), layout)
        total = sum(kt.file_stats().values())
        cx = sx.candidate_files(lo=8, hi=15)       # 1/8 of x domain
        cy = sy.candidate_files(lo=8, hi=15)       # 1/8 of y domain
        both = sorted(set(cx) & set(cy))
        got = sorted(r["id"] for r in
                     (spark.read.option("basePath", kt.path).parquet(*both)
                      .where(F.col("x").between(8, 15)
                             & F.col("y").between(8, 15))).collect())
        exp = sorted(r["id"] for r in
                     kt.read().where(F.col("x").between(8, 15)
                                     & F.col("y").between(8, 15)).collect())
        assert got == exp and got, layout           # never a false negative
        if layout == "z":
            # both dims selective, intersection strictly harder
            assert len(cx) < total and len(cy) <= total // 2
            assert len(both) < min(len(cx), len(cy))
            z_cy = len(cy)
        else:
            # lexicographic: the trailing column y spans (nearly) the
            # full domain in every file — its prune is close to
            # powerless (a few boundary files excepted), so the
            # intersection adds almost nothing over the x-prune alone
            assert len(cy) > 3 * total // 4
            assert len(both) >= len(cx) - 3
            lex_cy = len(cy)
    # the Z-curve's whole point at file level: the TRAILING dimension
    # prunes under z-order where lexicographic leaves it powerless
    assert z_cy < lex_cy // 2


def test_out_of_range_probe_bound_is_not_a_false_negative(spark, tmp_path):
    """Review regression (round 8): the probe used to cast bounds to
    the column type — an out-of-range bound (2^31 against an int
    column) became NULL under non-ANSI semantics and returned ZERO
    candidates: a silently EMPTY result where the residual filter
    would match every row.  Bounds now ride Spark's comparison
    coercion, identical to scan's residual filter."""
    from pyspark.sql import types as T
    kt = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=2)
    kt.init(spark.createDataFrame(
        [(i, i * 10) for i in range(50)],
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("ts", T.IntegerType())])))
    ix = StatsIndex(kt, "ts")
    ix.build()
    cands = ix.candidate_files(lo=0, hi=2**31)     # past INT_MAX
    assert cands                                    # non-empty candidates
    got = sorted(r["id"] for r in ix.scan(lo=0, hi=2**31).collect())
    assert got == list(range(50))                   # every row found


def test_cdc_pipeline_merge_flags_stats_dirty(spark, tmp_path):
    """Interplay: a CDC file processed through the full pipeline
    (process_file -> merge_batch) flags the zone-map sidecar dirty,
    and the pruned scan stays correct through the pipeline's merge
    (dirty fail-open) and after the maintenance refresh."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    root = str(tmp_path / "cdc")
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "id"}'),
                       num_buckets=4)
    target = pipe.target_for("users", ["id"])
    target.init(spark.createDataFrame(
        [Row(id=i, ts=i * 10, name=f"u{i}") for i in range(100)]))
    target.cluster_by(["ts"], max_records_per_file=10)
    ix = StatsIndex(target, "ts")
    ix.build()
    y, m, d = "2024", "01", "05"
    path = f"{root}/fair/users/{y}/{m}/{d}/b1.parquet"
    spark.createDataFrame(
        [Row(id=7, ts=55_555, name="moved", Op="U",
             load_timestamp=dt.datetime(2024, 1, 5))]
    ).coalesce(1).write.mode("overwrite").parquet(path)
    assert pipe.process_file(path).status == "completed"
    assert ix._load_side()["dirty"]                  # flagged by the merge
    got = {r["id"] for r in ix.scan(lo=50_000, hi=60_000).collect()}
    assert got == {7}                                # found via fail-open
    assert pipe.refresh_stats_indexes("users") == ["ts"]
    assert {r["id"] for r in
            ix.scan(lo=50_000, hi=60_000).collect()} == {7}


def test_fleet_run_maintenance_refreshes_stats_index(spark, tmp_path):
    """End-to-end wiring pin: CdcFleet.run_maintenance pays down the
    zone-map dirty debt (alongside bloom/fold/purge) for every
    discovered table."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
    from firebolt_cdc_lambda_spark.streaming.fleet import CdcFleet

    root = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(id=i, ts=i * 10, name=f"u{i}", Op="I",
             load_timestamp=dt.datetime(2024, 1, 1)) for i in range(40)]
    ).coalesce(1).write.parquet(f"{root}/fair/users/2024/01/01/a.parquet")
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "id"}'),
                       num_buckets=2)
    fleet = CdcFleet(pipe, root, str(tmp_path / "ckpt"))
    assert fleet.run_once(spark) == {"users": "drained"}
    target = pipe.target_for("users", ["id"])
    ix = StatsIndex(target, "ts")
    ix.build()
    target.merge_batch(spark.createDataFrame(
        [Row(id=3, ts=9_999, name="m", Op="U",
             load_timestamp=dt.datetime(2024, 1, 2))]))
    assert ix._load_side()["dirty"]
    status = fleet.run_maintenance()
    assert status == {"users": "purged"}             # stats refresh counted
    assert ix._load_side()["dirty"] == []
    assert {r["id"] for r in ix.scan(lo=9_000, hi=10_000).collect()} == {3}


def test_plain_table_user_epoch_column_survives_pruned_scan(spark, tmp_path):
    """Review regression (round 8): the pruned scan used to drop the
    epoch partition column unconditionally — on a PLAIN table
    "_epoch" is a legal user column, and it vanished in exactly (and
    only) the pruned branch while full-scan fallbacks kept it."""
    kt = KeyedTable(spark, str(tmp_path / "e"), ["id"], num_buckets=2)
    kt.init(spark.createDataFrame(
        [Row(id=i, ts=i * 10, _epoch=f"era{i % 3}") for i in range(40)]))
    kt.cluster_by(["ts"], max_records_per_file=10)
    ix = StatsIndex(kt, "ts")
    ix.build()
    got = ix.scan(lo=100, hi=200)
    assert "_epoch" in got.columns                  # pruned branch keeps it
    assert sorted((r["id"], r["_epoch"]) for r in got.collect()) == [
        (i, f"era{i % 3}") for i in range(10, 21)]


def test_unreadable_stats_dataset_raises_not_silent_fullscan(table):
    """Advice regression (round 8): candidate_files used to wrap the
    stats-dataset read in a bare `except Exception: return None`, so a
    PERSISTENT fault (corrupted footer, permissions) silently degraded
    every probe to a full scan forever with no signal.  Only the two
    verifiably-absent AnalysisException classes may fail open now;
    everything else must surface."""
    ix = StatsIndex(table, "ts")
    ix.build()
    assert ix.candidate_files(lo=100, hi=300)       # healthy first
    # corrupt every stats part file: unreadable, but NOT absent
    import pathlib
    root = pathlib.Path(ix.stats_path)
    parts = list(root.rglob("*.parquet"))
    assert parts
    for p in parts:
        p.write_bytes(b"not a parquet footer")
    with pytest.raises(Exception):
        ix.candidate_files(lo=100, hi=300)


def test_dirty_flag_written_before_data_commit(spark, table, monkeypatch):
    """Advice regression (round 8): the dirty flags must commit BEFORE
    the bucket data write — a crash between the two then leaves only a
    spurious dirty bucket (an over-scan), never a built, unflagged
    bloom/stats sidecar over rewritten data (a false-negative hazard).
    Simulated by making the flag hook raise: the merge must abort with
    the target data unchanged."""
    ix = StatsIndex(table, "ts")
    ix.build()
    before = sorted(r["id"] for r in table.read().collect())

    def boom(buckets):
        raise RuntimeError("crash between flag and data write")

    monkeypatch.setattr(table, "_mark_index_dirty", boom)
    with pytest.raises(RuntimeError, match="crash between"):
        table.merge_batch(_rows(spark, [7], ts=lambda i: 99_000 + i))
    monkeypatch.undo()
    after = sorted(r["id"] for r in table.read().collect())
    assert after == before                      # data commit never ran
    assert 7 not in {r["id"]
                     for r in ix.scan(lo=98_000, hi=100_000).collect()}


def test_build_many_one_scan_equals_separate_builds(spark, tmp_path):
    """build_many(k columns) must produce byte-equivalent indexes to k
    separate build() calls (same rows, same sidecars, same probes) —
    from ONE table scan instead of k."""
    kt_a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=4)
    kt_b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=4)
    rows = spark.createDataFrame(
        [Row(id=i, ts=i * 10, price=(i * 37) % 1000,
             note=None if i % 7 == 0 else f"n{i}") for i in range(400)])
    for kt in (kt_a, kt_b):
        kt.init(rows)
        kt.cluster_by(["ts"], max_records_per_file=25)
    many = StatsIndex.build_many(kt_a, ["ts", "price", "note"])
    singles = {c: StatsIndex(kt_b, c) for c in ("ts", "price", "note")}
    for ix in singles.values():
        ix.build()
    assert set(many) == set(singles)
    assert sorted(kt_a.stats_columns) == ["note", "price", "ts"]
    # same (b, lo, hi, n_rows, n_notnull) per file — the file-NAME
    # column differs only by the two layouts' distinct part uuids
    cols = ["b", "lo", "hi", "n_rows", "n_notnull"]
    for c in many:
        rows_a = sorted(map(tuple, spark.read.parquet(
            many[c].stats_path).select(*cols).collect()))
        rows_b = sorted(map(tuple, spark.read.parquet(
            singles[c].stats_path).select(*cols).collect()))
        assert rows_a == rows_b, c
        side_a, side_b = many[c]._load_side(), singles[c]._load_side()
        assert side_a["built"] == side_b["built"]
        assert side_a["dirty"] == side_b["dirty"] == []
    # probes bind identically: price is scrambled vs the ts layout (no
    # prune, honestly — equal candidate counts), ts prunes on both
    ca = many["price"].candidate_files(lo=100, hi=200)
    cb = singles["price"].candidate_files(lo=100, hi=200)
    total = sum(kt_a.file_stats().values())
    assert len(ca) == len(cb) == total
    assert len(many["ts"].candidate_files(lo=100, hi=300)) == \
        len(singles["ts"].candidate_files(lo=100, hi=300)) < total
    got = sorted(r["id"] for r in many["ts"].scan(lo=100, hi=300).collect())
    assert got == list(range(10, 31))
    # merges flag ALL build_many columns dirty (registration landed)
    kt_a.merge_batch(spark.createDataFrame(
        [Row(id=7, ts=99_000, price=5, note="x",
             Op="U", load_timestamp=dt.datetime(2024, 1, 2))]))
    for c in many:
        assert StatsIndex(kt_a, c)._load_side()["dirty"], c


def test_refresh_many_equals_per_index_refresh(spark, tmp_path):
    """refresh_many(k columns) must land each index in exactly the
    state k refresh() calls would — voided indexes rebuilt, live ones
    recomputed over THEIR OWN dirty buckets only (a bucket dirty for A
    but clean for B must not churn B's partition), emptied buckets'
    partitions dropped — while sharing scans."""
    tables = {}
    for nm in ("a", "b"):
        kt = KeyedTable(spark, str(tmp_path / nm), ["id"], num_buckets=4,
                        delete_vectors=False)
        kt.init(_rows(spark, range(400)))
        kt.cluster_by(["ts"], max_records_per_file=25)
        StatsIndex.build_many(kt, ["ts", "id"])
        # divergent dirty sets: a merge flags both, then ts gets a
        # refresh on ONE table-half so the two columns' debt differs
        kt.merge_batch(_rows(spark, [7, 395], ts=lambda i: 99_000 + i))
        # delete EVERY row of one touched bucket so a dirty bucket
        # comes back empty (the partition-drop path)
        bucket_of_7 = int(kt._with_bucket(
            _rows(spark, [7])).select(kt.BUCKET_COL).first()[0])
        victims = [r["id"] for r in kt.read().withColumn(
            "_b", F.pmod(F.xxhash64("id"), F.lit(4)))
            .where(F.col("_b") == bucket_of_7).select("id").collect()]
        kt.merge_batch(
            spark.createDataFrame([Row(id=i, ts=0, payload="x", Op="D")
                                   for i in victims]))
        tables[nm] = kt
    # manufacture divergent dirty sets identically on both tables:
    # drop one bucket from ts's dirty list (as if partially refreshed)
    for kt in tables.values():
        ix = StatsIndex(kt, "ts")
        side = ix._load_side()
        side["dirty"] = side["dirty"][:-1]
        ix._save_side(side)
    # both indexes stay LIVE here (divergent dirty sets); the voided
    # path is exercised at the tail, where a wholesale rewrite voids
    # both and refresh_many must rebuild them through one build_many.
    a, b = tables["a"], tables["b"]
    ra = {c: StatsIndex(a, c).refresh() for c in ("ts", "id")}
    rb = StatsIndex.refresh_many(b, ["ts", "id"])
    assert ra == rb
    cols = ["b", "lo", "hi", "n_rows", "n_notnull"]
    for c in ("ts", "id"):
        rows_a = sorted(map(tuple, spark.read.parquet(
            StatsIndex(a, c).stats_path).select(*cols).collect()))
        rows_b = sorted(map(tuple, spark.read.parquet(
            StatsIndex(b, c).stats_path).select(*cols).collect()))
        assert rows_a == rows_b, c
        sa, sb = StatsIndex(a, c)._load_side(), StatsIndex(b, c)._load_side()
        assert sa["built"] == sb["built"] and sa["dirty"] == sb["dirty"] == []
        # probes agree and stay correct
        pa = StatsIndex(a, c).candidate_files(lo=99_000, hi=100_000)
        pb = StatsIndex(b, c).candidate_files(lo=99_000, hi=100_000)
        assert (pa is None) == (pb is None)
        if pa is not None:
            assert len(pa) == len(pb)
    got = sorted(r["id"] for r in
                 StatsIndex(b, "ts").scan(lo=99_000, hi=100_000).collect())
    assert got == sorted(r["id"] for r in b.read()
                         .where(F.col("ts").between(99_000, 100_000))
                         .collect())
    # voided path: wholesale rewrite voids both, refresh_many rebuilds
    # both through ONE build_many scan with full-bucket results
    b.cluster_by(["ts"], max_records_per_file=25)
    res = StatsIndex.refresh_many(b, ["ts", "id"])
    assert res["ts"] == res["id"] == sorted(b.file_stats())
    assert StatsIndex(b, "ts")._load_side()["dirty"] == []


def test_refresh_with_every_dirty_bucket_emptied(spark, tmp_path):
    """Latent-bug regression (found by the refresh_many equivalence
    test, round 9): when ALL of a refresh's dirty buckets were emptied
    by deletes, the pruned read falls back to an in-memory empty
    relation with no _metadata column — the old aggregation crashed on
    it.  The refresh must instead DROP those buckets' stats partitions
    and leave the probe correct."""
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    kt.init(_rows(spark, range(100)).drop("Op", "load_timestamp"))
    kt.cluster_by(["ts"], max_records_per_file=10)
    ix = StatsIndex(kt, "ts")
    ix.build()
    # delete EVERY row of one bucket (and only that bucket)
    b0 = int(kt._with_bucket(
        spark.createDataFrame([Row(id=0)])).select(kt.BUCKET_COL).first()[0])
    victims = [r["id"] for r in kt.read().withColumn(
        "_b", F.pmod(F.xxhash64("id"), F.lit(4)))
        .where(F.col("_b") == b0).select("id").collect()]
    kt.merge_batch(spark.createDataFrame(
        [Row(id=i, ts=0, payload="x", Op="D") for i in victims]))
    assert sorted(ix._load_side()["dirty"]) == [b0]
    assert ix.refresh() == [b0]                  # no crash, debt paid
    import pathlib
    assert not (pathlib.Path(ix.stats_path) / f"b={b0}").exists()
    got = sorted(r["id"] for r in ix.scan(lo=0, hi=10**6).collect())
    assert got == sorted(set(range(100)) - set(victims))


def test_downward_rebucket_rebuild_clears_stale_partitions(
        spark, tmp_path, dynamic_overwrite):
    """Stats twin of the bloom regression (round 9): stale old-bucket
    stats rows after a downward rebucket referenced vanished files,
    degrading EVERY probe to a permanent full scan.  The rebuild must
    truncate the dataset, and pruning must work again."""
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=16)
    kt.init(_rows(spark, range(400)).drop("Op", "load_timestamp"))
    kt.cluster_by(["ts"], max_records_per_file=25)
    ix = StatsIndex(kt, "ts")
    ix.build()
    kt.rebucket(4)
    kt.cluster_by(["ts"], max_records_per_file=25)
    ix.refresh()                                  # void -> full rebuild
    stats_b = {int(r["b"]) for r in
               spark.read.parquet(ix.stats_path).select("b").collect()}
    assert stats_b <= set(range(4)), stats_b      # no stale ids
    total = sum(kt.file_stats().values())
    cands = ix.candidate_files(lo=100, hi=300)
    assert cands is not None and 0 < len(cands) < total  # prunes again
    got = sorted(r["id"] for r in ix.scan(lo=100, hi=300).collect())
    assert got == list(range(10, 31))
