"""BloomIndex: bucket pruning for non-key predicates, fail-open staleness.

Invariants pinned here:
  * NO FALSE NEGATIVES, ever: lookup == full-scan filter, in every
    staleness state (fresh, post-merge dirty, post-rebuild voided).
  * pruning actually prunes: a selective probe reads < all buckets.
  * merges flag exactly their touched buckets dirty; refresh recomputes
    only those and restores pruning.
  * wholesale rewrites (rebucket) void the index (candidate_buckets ->
    None) and lookup falls back to a correct full scan.
  * a merge creating a brand-new bucket (unseen at build) is found via
    the dirty flag.
"""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from firebolt_cdc_lambda_spark.operators.bloom import BloomIndex
from firebolt_cdc_lambda_spark.operators.merge import KeyedTable


def _rows(spark, ids, cat=lambda i: f"cat_{i % 7}"):
    return spark.createDataFrame([
        Row(id=i, category=cat(i), payload=f"p{i}",
            Op="U", load_timestamp=dt.datetime(2024, 1, 2)) for i in ids])


@pytest.fixture()
def table(spark, tmp_path):
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=16)
    kt.init(_rows(spark, range(400)).drop("Op", "load_timestamp"))
    return kt


def _expect(table, values):
    return sorted(
        tuple(r) for r in
        table.read().where(F.col("category").isin(values)).collect())


def test_lookup_equals_full_scan_and_prunes(table):
    ix = BloomIndex(table, "category")
    n = ix.build()
    assert n == 16
    got = sorted(tuple(r) for r in ix.lookup(["cat_3"]).collect())
    assert got == _expect(table, ["cat_3"]) and got   # non-empty, identical
    # a value that exists nowhere: candidates nearly empty, result empty
    cands = ix.candidate_buckets(["no_such_category"])
    assert cands is not None and len(cands) < 16
    assert ix.lookup(["no_such_category"]).count() == 0


def test_merge_marks_dirty_and_stays_correct_before_refresh(spark, table):
    ix = BloomIndex(table, "category")
    ix.build()
    # merge rewrites some buckets introducing a category unseen at build
    table.merge_batch(_rows(spark, [7, 400, 401], cat=lambda i: "fresh_cat"))
    side = ix._load_side()
    assert side["dirty"], "merge must flag its touched buckets"
    got = sorted(tuple(r) for r in ix.lookup(["fresh_cat"]).collect())
    assert got == _expect(table, ["fresh_cat"]) and len(got) == 3
    # refresh recomputes exactly the dirty buckets and restores pruning
    dirty = sorted(int(b) for b in side["dirty"])
    assert ix.refresh() == dirty
    assert ix._load_side()["dirty"] == []
    got2 = sorted(tuple(r) for r in ix.lookup(["fresh_cat"]).collect())
    assert got2 == got
    cands = ix.candidate_buckets(["fresh_cat"])
    assert cands is not None and len(cands) < 16


def test_new_bucket_after_build_is_found(spark, tmp_path):
    # 64 buckets, 5 ids -> init leaves most buckets nonexistent; a merge
    # then creates a bucket that had no dir (and no words) at build time
    kt = KeyedTable(spark, str(tmp_path / "nb"), ["id"], num_buckets=64)
    kt.init(_rows(spark, range(5)).drop("Op", "load_timestamp"))
    ix = BloomIndex(kt, "category")
    built = ix.build()
    assert built < 64
    kt.merge_batch(_rows(spark, range(5, 40), cat=lambda i: "late_cat"))
    got = ix.lookup(["late_cat"]).count()
    assert got == 35


def test_wholesale_rewrite_voids_index_fail_open(spark, table):
    ix = BloomIndex(table, "category")
    ix.build()
    table.rebucket(8)
    assert ix.candidate_buckets(["cat_1"]) is None
    got = sorted(tuple(r) for r in ix.lookup(["cat_1"]).collect())
    assert got == _expect(table, ["cat_1"]) and got
    # rebuild re-enables pruning under the new bucket count
    assert ix.build() == 8
    assert ix.candidate_buckets(["cat_1"]) is not None


def test_refresh_after_rebuild_mismatch_does_full_build(spark, table):
    ix = BloomIndex(table, "category")
    ix.build()
    table.zorder_by(["id"])
    assert ix.candidate_buckets(["cat_1"]) is None     # voided
    ix.refresh()                                       # falls back to build
    assert ix.candidate_buckets(["cat_1"]) is not None


def test_null_probe_rejected(table):
    ix = BloomIndex(table, "category")
    ix.build()
    with pytest.raises(ValueError, match="NULL probe"):
        ix.candidate_buckets(["cat_1", None])


def test_lookup_scan_is_bucket_pruned(spark, table):
    """Plan contract: on a SELECTIVE column (unique payloads — `category`
    has only 7 values so nearly every bucket truly contains each one),
    the probe narrows to a handful of buckets and the scan's input files
    all live under candidate bucket dirs — untouched buckets are never
    read."""
    ix = BloomIndex(table, "payload", m_bits=16384)
    ix.build()
    cands = ix.candidate_buckets(["p123"])
    assert cands is not None and 1 <= len(cands) <= 4   # 1 true + rare fps
    df = ix.lookup(["p123"])
    assert [r["id"] for r in df.collect()] == [123]
    allowed = {f"_bucket={b}" for b in cands}
    for f in df.inputFiles():
        assert any(a in f for a in allowed), f


def test_randomized_merge_probe_no_false_negatives(spark, tmp_path):
    """Seeded randomized sequence of merges (updates, inserts, deletes)
    interleaved with probes and occasional refreshes: at every step, for
    every staleness state the index may be in, lookup must equal the
    full-scan filter.  The one invariant that must survive any history."""
    import random
    rng = random.Random(20260814)
    kt = KeyedTable(spark, str(tmp_path / "r"), ["id"], num_buckets=8)
    kt.init(_rows(spark, range(100)).drop("Op", "load_timestamp"))
    ix = BloomIndex(kt, "category", m_bits=2048)
    ix.build()
    alive = set(range(100))
    next_id = 100
    for step in range(5):
        n_new = rng.randint(0, 10)
        new_ids = list(range(next_id, next_id + n_new))
        next_id += n_new
        upd_ids = rng.sample(sorted(alive), min(8, len(alive)))
        del_ids = rng.sample(sorted(alive - set(upd_ids)),
                             min(3, len(alive) - len(upd_ids)))
        tag = f"s{step}"
        batch = spark.createDataFrame(
            [Row(id=i, category=f"cat_{tag}", payload=f"p{i}", Op="U",
                 load_timestamp=dt.datetime(2024, 1, 3 + step))
             for i in upd_ids + new_ids] +
            [Row(id=i, category="x", payload="x", Op="D",
                 load_timestamp=dt.datetime(2024, 1, 3 + step))
             for i in del_ids])
        kt.merge_batch(batch)
        alive = (alive | set(new_ids)) - set(del_ids)
        probes = [f"cat_{tag}", f"cat_{rng.randint(0, 6)}", "cat_nope"]
        for v in probes:
            got = sorted(tuple(r) for r in ix.lookup([v]).collect())
            exp = sorted(
                tuple(r) for r in
                kt.read().where(F.col("category") == v).collect())
            assert got == exp, (step, v)
        if step == 2:
            ix.refresh()


def test_stored_mk_wins_for_probe_and_refresh(spark, table):
    """An index built with non-default m must stay correct when probed
    or refreshed through a handle constructed with DEFAULT parameters
    (the maintenance path): probe positions under the wrong m would
    false-negative; refresh under the wrong m would silently rebuild."""
    BloomIndex(table, "payload", m_bits=16384, k=4).build()
    handle = BloomIndex(table, "payload")          # defaults: 4096/3
    cands = handle.candidate_buckets(["p123"])
    assert (handle.m, handle.k) == (16384, 4)      # adopted from sidecar
    assert cands is not None
    assert [r["id"] for r in handle.lookup(["p123"]).collect()] == [123]
    table.merge_batch(_rows(spark, [7]))
    refreshed = BloomIndex(table, "payload").refresh()
    assert refreshed                               # dirty-only, not rebuild
    side = BloomIndex(table, "payload")._load_side()
    assert (side["m"], side["k"]) == (16384, 4) and side["dirty"] == []


def test_fleet_maintenance_refreshes_bloom(spark, tmp_path):
    """CdcPipeline.refresh_bloom_indexes: the cadence hook recomputes
    merge-flagged dirty buckets for every registered index column."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "id"}'), num_buckets=8)
    kt = pipe.target_for("users", ["id"])
    kt.init(_rows(spark, range(50)).drop("Op", "load_timestamp"))
    BloomIndex(kt, "category").build()
    assert pipe.refresh_bloom_indexes("users") == []       # nothing dirty
    kt2 = pipe.target_for("users", ["id"])                 # fresh handle
    kt2.merge_batch(_rows(spark, [1, 2, 60]))
    assert pipe.refresh_bloom_indexes("users") == ["category"]
    assert BloomIndex(kt2, "category")._load_side()["dirty"] == []
    assert pipe.refresh_bloom_indexes("nope") == []        # unconfigured


def test_two_handle_rewrite_cannot_collide_with_index_version(spark, tmp_path):
    """Review finding: table_version must advance against the STORED
    value.  Handle A (stale in-memory tv) rewriting after handle B's
    rebucket + index rebuild must land a version DIFFERENT from the
    sidecar's, voiding the index — never silently un-voiding it into
    false negatives against re-hashed bucket ids."""
    path = str(tmp_path / "t")
    a = KeyedTable(spark, path, ["id"], num_buckets=16)
    a.init(_rows(spark, range(100)).drop("Op", "load_timestamp"))
    b = KeyedTable(spark, path, ["id"])          # second handle
    b.rebucket(8)                                # stored tv bumps
    ix = BloomIndex(b, "category")
    ix.build()                                   # sidecar pinned at tv
    a.rebucket(4)                                # stale handle rewrites
    assert ix.candidate_buckets(["cat_1"]) is None   # voided, not collided
    got = sorted(tuple(r) for r in ix.lookup(["cat_1"]).collect())
    assert got == _expect(a, ["cat_1"]) and got


def test_stale_handle_save_meta_keeps_bloom_registration(spark, tmp_path):
    """Review finding: a stale handle's wholesale rewrite must not
    unregister an index another handle registered in the meta."""
    path = str(tmp_path / "t")
    a = KeyedTable(spark, path, ["id"], num_buckets=8)
    a.init(_rows(spark, range(50)).drop("Op", "load_timestamp"))
    b = KeyedTable(spark, path, ["id"])
    BloomIndex(b, "category").build()            # registers on B's meta
    a.zorder_by(["id"])                          # A's meta save follows
    assert "category" in KeyedTable(spark, path, ["id"]).bloom_columns


def test_refresh_of_voided_custom_index_keeps_stored_sizing(spark, table):
    """Review finding: the voided branch of refresh() must adopt the
    stored m/k BEFORE rebuilding — a default-parameter maintenance
    handle must not silently downsize a custom-sized index 32x."""
    BloomIndex(table, "payload", m_bits=16384, k=4).build()
    table.zorder_by(["id"])                      # wholesale rewrite: voided
    BloomIndex(table, "payload").refresh()       # defaults: 4096/3
    side = BloomIndex(table, "payload")._load_side()
    assert (side["m"], side["k"]) == (16384, 4)


def test_null_probe_rejected_on_every_path(spark, table):
    """Review finding: lookup must reject NULL probes consistently —
    including while the index is voided (full-scan fallback)."""
    ix = BloomIndex(table, "category")
    ix.build()
    table.rebucket(8)                            # index voided
    with pytest.raises(ValueError, match="NULL probe"):
        ix.lookup(["cat_1", None])


def test_stale_handle_build_does_not_regress_version_or_registry(spark, tmp_path):
    """Second-pass review finding: build() must register via the STORED
    meta — a stale handle building a second index must neither regress
    another writer's table_version nor unregister the first index."""
    path = str(tmp_path / "t")
    stale = KeyedTable(spark, path, ["id"], num_buckets=8)
    stale.init(_rows(spark, range(50)).drop("Op", "load_timestamp"))
    other = KeyedTable(spark, path, ["id"])
    other.rebucket(4)                               # stored tv advances
    BloomIndex(other, "category").build()           # registers 'category'
    BloomIndex(stale, "payload").build()            # stale handle builds
    fresh = KeyedTable(spark, path, ["id"])
    assert sorted(fresh.bloom_columns) == ["category", "payload"]
    assert fresh.table_version == other.table_version  # no regression
    # both indexes live and correct
    assert BloomIndex(fresh, "category").candidate_buckets(["cat_1"]) is not None
    assert [r["id"] for r in BloomIndex(fresh, "payload")
            .lookup(["p7"]).collect()] == [7]


def test_recreated_table_does_not_inherit_orphan_index(spark, tmp_path):
    """Second-pass review finding: a table re-init'd at the same path
    restarts table_version — an orphaned sibling sidecar from the prior
    table must be dropped at init, not matched as live (its words
    describe the OLD table: false negatives, not fail-open)."""
    import os
    path = str(tmp_path / "t")
    kt = KeyedTable(spark, path, ["id"], num_buckets=8)
    kt.init(_rows(spark, range(50)).drop("Op", "load_timestamp"))
    BloomIndex(kt, "category").build()
    # simulate external drop of the table dir (sidecar siblings survive)
    import shutil
    shutil.rmtree(path)
    assert os.path.exists(path + "__bloom_category.json")
    kt2 = KeyedTable(spark, path, ["id"], num_buckets=8)
    kt2.init(_rows(spark, range(30), cat=lambda i: f"new_{i % 3}")
             .drop("Op", "load_timestamp"))
    assert not os.path.exists(path + "__bloom_category.json")  # cleaned
    assert kt2.bloom_columns == []
    ix = BloomIndex(kt2, "category")
    assert ix.candidate_buckets(["new_1"]) is None     # no orphan match
    assert ix.lookup(["new_1"]).count() == 10          # full-scan fallback


def test_null_probe_rejected_even_when_index_absent(spark, table):
    """Second-pass review finding: candidate_buckets must reject NULLs
    BEFORE the absent/voided early-returns — never None-then-raise
    depending on maintenance timing."""
    ix = BloomIndex(table, "category")     # never built
    with pytest.raises(ValueError, match="NULL probe"):
        ix.candidate_buckets(["cat_1", None])


def test_build_many_one_scan_equals_separate_builds(spark, tmp_path):
    """build_many(k columns) must produce indexes equivalent to k
    separate build() calls (same word partitions, same sidecars, same
    probes — incl. a NULL-bearing column) from ONE table scan."""
    rows = spark.createDataFrame([
        Row(id=i, category=f"cat_{i % 7}",
            payload=None if i % 11 == 0 else f"p{i}") for i in range(400)])
    kt_a = KeyedTable(spark, str(tmp_path / "a"), ["id"], num_buckets=16)
    kt_b = KeyedTable(spark, str(tmp_path / "b"), ["id"], num_buckets=16)
    kt_a.init(rows)
    kt_b.init(rows)
    many = BloomIndex.build_many(kt_a, ["category", "payload"],
                                 m_bits=2048, k=2)
    singles = {c: BloomIndex(kt_b, c, m_bits=2048, k=2)
               for c in ("category", "payload")}
    for ix in singles.values():
        ix.build()
    assert sorted(kt_a.bloom_columns) == ["category", "payload"]
    for c in many:
        wa = sorted(map(tuple, spark.read.parquet(
            many[c].words_path).select("b", "w", "bits").collect()))
        wb = sorted(map(tuple, spark.read.parquet(
            singles[c].words_path).select("b", "w", "bits").collect()))
        assert wa == wb, c
        sa, sb = many[c]._load_side(), singles[c]._load_side()
        assert (sa["built"], sa["m"], sa["k"], sa["dirty"]) == \
            (sb["built"], sb["m"], sb["k"], sb["dirty"])
        # probes agree, prune, and lookups match the full scan
        probe = "cat_3" if c == "category" else "p42"
        ca = many[c].candidate_buckets([probe])
        cb = singles[c].candidate_buckets([probe])
        assert ca == cb and ca is not None and len(ca) < 16
        got = sorted(r["id"] for r in many[c].lookup([probe]).collect())
        exp = sorted(r["id"] for r in kt_a.read()
                     .where(F.col(c) == probe).collect())
        assert got == exp and got
    # merges flag BOTH build_many columns dirty (registration landed)
    kt_a.merge_batch(_rows(spark, [7]))
    for c in many:
        assert BloomIndex(kt_a, c)._load_side()["dirty"], c


def test_refresh_many_equals_per_index_refresh(spark, tmp_path):
    """refresh_many(k columns) must land each index in exactly the
    state k refresh() calls would — divergent dirty sets recomputed
    per column, stored m/k adopted (NEVER resized by a default-
    parameter maintenance handle), voided indexes rebuilt with their
    own sizing through one shared scan."""
    tables = {}
    for nm in ("a", "b"):
        kt = KeyedTable(spark, str(tmp_path / nm), ["id"], num_buckets=16)
        kt.init(_rows(spark, range(400)).drop("Op", "load_timestamp"))
        BloomIndex(kt, "category", m_bits=2048, k=2).build()  # custom
        BloomIndex(kt, "payload").build()                     # defaults
        kt.merge_batch(_rows(spark, [7, 395]))
        ix = BloomIndex(kt, "category")
        side = ix._load_side()
        side["dirty"] = side["dirty"][:-1]    # divergent dirty sets
        ix._save_side(side)
        tables[nm] = kt
    a, b = tables["a"], tables["b"]
    ra = {c: BloomIndex(a, c).refresh() for c in ("category", "payload")}
    rb = BloomIndex.refresh_many(b, ["category", "payload"])
    assert ra == rb
    for c in ("category", "payload"):
        wa = sorted(map(tuple, spark.read.parquet(
            BloomIndex(a, c).words_path).select("b", "w", "bits").collect()))
        wb = sorted(map(tuple, spark.read.parquet(
            BloomIndex(b, c).words_path).select("b", "w", "bits").collect()))
        assert wa == wb, c
        sa = BloomIndex(a, c)._load_side()
        sb = BloomIndex(b, c)._load_side()
        assert (sa["m"], sa["k"], sa["built"], sa["dirty"]) == \
            (sb["m"], sb["k"], sb["built"], sb["dirty"])
    assert BloomIndex(b, "category")._load_side()["m"] == 2048  # kept
    got = sorted(r["id"] for r in
                 BloomIndex(b, "category").lookup(["cat_3"]).collect())
    assert got == sorted(r["id"] for r in b.read()
                         .where(F.col("category") == "cat_3").collect())
    # voided path: a wholesale rewrite voids both; refresh_many must
    # rebuild through ONE shared scan, each index keeping its sizing
    b.rebucket(8)
    res = BloomIndex.refresh_many(b, ["category", "payload"])
    assert res["category"] == res["payload"] == sorted(b.file_stats())
    side = BloomIndex(b, "category")._load_side()
    assert (side["m"], side["k"], side["dirty"]) == (2048, 2, [])
    # the rebuilt datasets carry only the NEW bucket ids, and the
    # near-unique payload column prunes again (7-value category is
    # honestly data-limited at 8 buckets)
    cands = BloomIndex(b, "category").candidate_buckets(["cat_3"])
    assert cands is not None and max(cands) < 8
    pc = BloomIndex(b, "payload").candidate_buckets(["p123"])
    assert pc is not None and 0 < len(pc) < 8
    assert {r["id"] for r in
            BloomIndex(b, "payload").lookup(["p123"]).collect()} == {123}


def test_downward_rebucket_rebuild_clears_stale_partitions(
        spark, tmp_path, dynamic_overwrite):
    """Latent-bug regression (found by the refresh_many equivalence
    test, round 9): full rebuilds wrote with a DYNAMIC session
    partition-overwrite default, so a rebuild after a DOWNWARD rebucket
    left the old bucket ids' rows in the words dataset — phantom
    fail-open candidates forever.  The rebuild must truncate."""
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=16)
    kt.init(_rows(spark, range(400)).drop("Op", "load_timestamp"))
    ix = BloomIndex(kt, "category")
    ix.build()
    kt.rebucket(4)
    ix.refresh()                                  # void -> full rebuild
    words_b = {int(r["b"]) for r in
               spark.read.parquet(ix.words_path).select("b").collect()}
    assert words_b <= set(range(4)), words_b      # no stale ids
    cands = ix.candidate_buckets(["cat_3"])
    assert cands is not None and max(cands) < 4


def test_words_partition_of_another_layout_fails_open(spark, table, tmp_path):
    """A words file whose types do not match the pinned (w INT, bits
    BIGINT, b INT) layout surfaces only when the probe's collect reads
    it.  The probe must fail open there too: no candidates, and lookup
    falls back to the full scan instead of raising."""
    import shutil
    ix = BloomIndex(table, "category")
    ix.build()
    part = f"{ix.words_path}/b=0"
    bad = str(tmp_path / "bad_words")
    (spark.read.parquet(part)
     .selectExpr("w", "CAST(bits AS STRING) AS bits")
     .write.parquet(bad))
    shutil.rmtree(part)
    shutil.copytree(bad, part)
    assert ix.candidate_buckets(["cat_3"]) is None
    got = sorted(tuple(r) for r in ix.lookup(["cat_3"]).collect())
    assert got == _expect(table, ["cat_3"]) and got
