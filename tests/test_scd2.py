"""SCD Type 2: snapshot build, interval contiguity, incremental apply
== full rebuild (the batch-split independence property)."""

import random

import pytest
from pyspark.sql import functions as F

from firebolt_cdc_lambda_spark.operators.scd2 import (scd2_apply,
                                                      scd2_snapshot)

KEYS, ORDER, TRACKED = ["k"], ["t", "seq"], ["attr"]


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, t bigint, seq bigint, attr string")


def _canon(df):
    return sorted((tuple(r) for r in df.select(
        "k", "attr", "valid_from", "valid_to", "version", "is_current"
    ).collect()), key=lambda t: tuple((v is None, v) for v in t))


def test_snapshot_collapses_and_closes(spark):
    rows = [
        (1, 10, 0, "a"), (1, 20, 1, "a"),   # no-op change collapses
        (1, 30, 2, "b"), (1, 40, 3, "a"),   # a->b->a = 3 versions
        (2, 15, 4, "x"),
    ]
    out = _canon(scd2_snapshot(_df(spark, rows), KEYS, ORDER, TRACKED))
    assert out == [
        (1, "a", 10, 30, 1, False),
        (1, "a", 40, None, 3, True),
        (1, "b", 30, 40, 2, False),
        (2, "x", 15, None, 1, True),
    ]


def test_snapshot_null_tracked_values(spark):
    rows = [(1, 10, 0, None), (1, 20, 1, None), (1, 30, 2, "a"),
            (1, 40, 3, None)]
    out = _canon(scd2_snapshot(_df(spark, rows), KEYS, ORDER, TRACKED))
    # null==null collapses (null-safe), null->a->null opens versions
    assert {(r[1], r[2], r[4]) for r in out} == {
        (None, 10, 1), ("a", 30, 2), (None, 40, 3)}
    assert sum(r[5] for r in out) == 1


def test_snapshot_tie_break_on_seq(spark):
    # same timestamp: seq orders the changes; first interval is empty
    rows = [(1, 10, 1, "b"), (1, 10, 0, "a")]
    out = _canon(scd2_snapshot(_df(spark, rows), KEYS, ORDER, TRACKED))
    assert out == [(1, "a", 10, 10, 1, False), (1, "b", 10, None, 2, True)]


def test_intervals_are_contiguous_per_key(spark):
    rng = random.Random(7)
    rows = [(k, 10 * i, i, rng.choice("abc"))
            for k in range(6) for i in range(rng.randint(1, 12))]
    dim = scd2_snapshot(_df(spark, rows), KEYS, ORDER, TRACKED).collect()
    byk = {}
    for r in dim:
        byk.setdefault(r["k"], []).append(r)
    for k, rs in byk.items():
        rs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rs] == list(range(1, len(rs) + 1))
        assert [r["is_current"] for r in rs[:-1]] == [False] * (len(rs) - 1)
        assert rs[-1]["is_current"] and rs[-1]["valid_to"] is None
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]
        # consecutive versions really differ
        for a, b in zip(rs, rs[1:]):
            assert a["attr"] != b["attr"]


def test_apply_equals_full_rebuild(spark):
    """The headline property: any time-ordered split of a history,
    folded batch-by-batch, equals the one-shot snapshot — including
    collapse across batch boundaries and brand-new keys mid-stream."""
    rng = random.Random(41)
    hist = []
    t = 0
    for i in range(400):
        t += rng.randint(1, 5)
        hist.append((rng.randint(0, 14), t, i, rng.choice("aab")))
    cuts = sorted(rng.sample(range(1, len(hist)), 3))
    parts = [hist[a:b] for a, b in
             zip([0, *cuts], [*cuts, len(hist)])]
    dim = scd2_snapshot(_df(spark, parts[0]), KEYS, ORDER, TRACKED)
    for p in parts[1:]:
        dim = scd2_apply(dim, _df(spark, p), KEYS, ORDER, TRACKED)
        dim = spark.createDataFrame(dim.collect(), dim.schema)  # cut lineage
    assert _canon(dim) == _canon(
        scd2_snapshot(_df(spark, hist), KEYS, ORDER, TRACKED))


def test_apply_collapse_across_boundary_and_new_key(spark):
    h1 = [(1, 10, 0, "a")]
    h2 = [(1, 20, 1, "a"),            # equals current -> collapses
          (1, 30, 2, "b"),            # real change -> version 2
          (9, 25, 3, "z")]            # new key -> version 1
    dim = scd2_apply(scd2_snapshot(_df(spark, h1), KEYS, ORDER, TRACKED),
                     _df(spark, h2), KEYS, ORDER, TRACKED)
    assert _canon(dim) == [
        (1, "a", 10, 30, 1, False),
        (1, "b", 30, None, 2, True),
        (9, "z", 25, None, 1, True),
    ]


def test_apply_drops_stale_rows(spark):
    h1 = [(1, 10, 0, "a"), (1, 30, 1, "b")]
    stale = [(1, 20, 2, "c"),   # before current valid_from (30) -> dropped
             (1, 30, 3, "c")]   # AT current valid_from -> dropped too
    dim = scd2_apply(scd2_snapshot(_df(spark, h1), KEYS, ORDER, TRACKED),
                     _df(spark, stale), KEYS, ORDER, TRACKED)
    assert _canon(dim) == [
        (1, "a", 10, 30, 1, False),
        (1, "b", 30, None, 2, True),
    ]


def test_snapshot_single_exchange_plan(spark):
    """Both windows + the change filter ride ONE hash exchange."""
    df = _df(spark, [(1, 10, 0, "a"), (1, 20, 1, "b")])
    plan = (scd2_snapshot(df, KEYS, ORDER, TRACKED)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_apply_untouched_keys_pass_through(spark):
    h1 = [(1, 10, 0, "a"), (2, 10, 1, "x"), (2, 20, 2, "y")]
    dim = scd2_snapshot(_df(spark, h1), KEYS, ORDER, TRACKED)
    out = scd2_apply(dim, _df(spark, [(1, 50, 3, "b")]),
                     KEYS, ORDER, TRACKED)
    assert [t for t in _canon(out) if t[0] == 2] == \
        [t for t in _canon(dim) if t[0] == 2]
    assert (1, "b", 50, None, 2, True) in _canon(out)


def test_scd2_table_apply_matches_rebuild_and_is_idempotent(spark, tmp_path):
    from firebolt_cdc_lambda_spark.operators.scd2 import Scd2Table
    h1 = [(k, 10 * i, k * 100 + i, "ab"[(k + i) % 2])
          for k in range(8) for i in range(4)]
    h2 = [(k, 100 + 10 * i, 10000 + k * 100 + i, "ba"[(k + i) % 2])
          for k in range(0, 12, 2) for i in range(3)]
    t = Scd2Table(spark, str(tmp_path / "dim"), KEYS, ORDER, TRACKED,
                  num_buckets=8)
    t.init(_df(spark, h1))
    touched = t.apply(_df(spark, h2))
    assert touched and len(touched) <= 8
    want = _canon(scd2_snapshot(_df(spark, h1 + h2), KEYS, ORDER, TRACKED))
    assert _canon(t.read()) == want
    # replay: the whole batch is stale now -> no-op
    t.apply(_df(spark, h2))
    assert _canon(t.read()) == want
    # current() is the keyed last-value snapshot
    cur = {r["k"]: r["attr"] for r in t.current().collect()}
    assert len(cur) == 10   # 8 initial keys + keys 8,10 new in h2


def test_scd2_table_apply_prunes_buckets(spark, tmp_path):
    from firebolt_cdc_lambda_spark.operators.scd2 import Scd2Table
    rows = [(k, 10, k, "a") for k in range(64)]
    t = Scd2Table(spark, str(tmp_path / "dim"), KEYS, ORDER, TRACKED,
                  num_buckets=16)
    t.init(_df(spark, rows))
    touched = t.apply(_df(spark, [(5, 50, 999, "b")]))
    assert len(touched) == 1
    out = _canon(t.read())
    assert (5, "a", 10, 50, 1, False) in out
    assert (5, "b", 50, None, 2, True) in out
    assert len(out) == 65


def test_scd2_table_init_wipes_prior_content(spark, tmp_path,
                                              dynamic_overwrite):
    """init replaces the whole store: re-initializing over an old table
    leaves no stale buckets behind, whatever the session's
    partition-overwrite mode (an in-place dynamic overwrite would)."""
    from firebolt_cdc_lambda_spark.operators.scd2 import Scd2Table
    p = str(tmp_path / "dim")
    t = Scd2Table(spark, p, KEYS, ORDER, TRACKED, num_buckets=16)
    t.init(_df(spark, [(k, 10, k, "a") for k in range(32)]))
    t.init(_df(spark, [(1, 10, 0, "z")]))   # re-bootstrap, 1 key only
    assert _canon(t.read()) == [(1, "z", 10, None, 1, True)]


def test_scd2_table_apply_all_new_keys_in_absent_buckets(spark, tmp_path):
    """A batch of only-new keys whose bucket dirs were never written
    must not fail the pruned read (single-glob zero-match == empty),
    and a partially-absent glob proceeds with the existing dirs."""
    from firebolt_cdc_lambda_spark.operators.scd2 import Scd2Table
    t = Scd2Table(spark, str(tmp_path / "dim"), KEYS, ORDER, TRACKED,
                  num_buckets=64)
    t.init(_df(spark, [(1, 10, 0, "a")]))
    t.apply(_df(spark, [(2, 20, 1, "b")]))        # all-new, absent bucket
    t.apply(_df(spark, [(1, 30, 2, "c"), (3, 30, 3, "d")]))  # mixed
    out = _canon(t.read())
    assert (2, "b", 20, None, 1, True) in out
    assert (1, "c", 30, None, 2, True) in out
    assert (3, "d", 30, None, 1, True) in out
    assert len(out) == 4


def test_scd2_table_partial_write_then_replay_converges(spark, tmp_path):
    """Crash model: apply() writes some touched buckets, dies, and the
    checkpoint replays the WHOLE batch.  Rows for already-written keys
    are stale-gated (their valid_from advanced), rows for unwritten
    keys apply normally — the mixed state converges to exactly the
    clean single-apply result."""
    from firebolt_cdc_lambda_spark.operators.scd2 import Scd2Table
    h1 = [(k, 10, k, "a") for k in range(12)]
    batch = [(k, 50, 100 + k, "b") for k in range(12)]
    clean = Scd2Table(spark, str(tmp_path / "clean"), KEYS, ORDER,
                      TRACKED, num_buckets=8)
    clean.init(_df(spark, h1))
    clean.apply(_df(spark, batch))

    crashed = Scd2Table(spark, str(tmp_path / "crashed"), KEYS, ORDER,
                        TRACKED, num_buckets=8)
    crashed.init(_df(spark, h1))
    # "partial write": only the batch rows for half the keys landed
    crashed.apply(_df(spark, [r for r in batch if r[0] < 6]))
    # checkpoint replay re-delivers the FULL batch
    crashed.apply(_df(spark, batch))
    assert _canon(crashed.read()) == _canon(clean.read())


def test_scd2_table_rewind_preserves_meta_sidecar(spark, tmp_path):
    """rewind()'s static overwrite wipes the whole table path — it
    must re-save _scd2_meta.json (as init does), or a later handle
    opened with MISMATCHED constructor args silently uses its own
    num_buckets/tracked instead of the stored definition, and a
    dynamic apply() then hashes keys into the wrong dirs and forks
    per-key histories (the exact hazard the sidecar guards)."""
    from firebolt_cdc_lambda_spark.operators.scd2 import Scd2Table
    p = str(tmp_path / "dim")
    t = Scd2Table(spark, p, KEYS, ORDER, TRACKED, num_buckets=16)
    t.init(_df(spark, [(k, 10, k, "a") for k in range(32)]
               + [(k, 30, 100 + k, "b") for k in range(32)]))
    t.rewind(30)                       # excise the second window
    # the sidecar survived the static rewrite
    from firebolt_cdc_lambda_spark.fsio import read_text
    assert read_text(spark, f"{p}/{Scd2Table.META}") is not None
    # a fresh handle with WRONG ctor args honors the stored definition
    t2 = Scd2Table(spark, p, KEYS, ORDER, TRACKED, num_buckets=4)
    assert t2.num_buckets == 16
    t2.apply(_df(spark, [(5, 50, 999, "c")]))
    out = _canon(t2.read())
    assert (5, "c", 50, None, 2, True) in out
    assert (5, "a", 10, 50, 1, False) in out
    assert len(out) == 33              # 32 keys + key 5's new version
    # and the history equals the from-scratch fold of the surviving
    # stream + the new batch (no forked per-key history anywhere)
    want = _canon(scd2_snapshot(
        _df(spark, [(k, 10, k, "a") for k in range(32)]
            + [(5, 50, 999, "c")]), KEYS, ORDER, TRACKED))
    assert out == want


def test_scd2_rewind_crash_between_renames_reads_the_backup(spark, tmp_path):
    """rewind() swaps the whole table dir, ``_scd2_meta.json`` inside
    it.  A crash between the swap's two renames leaves the rewound
    table only at ``<path>__old``: a fresh handle promotes it and sees
    the stored definition and the rewound history, never an empty
    table that would route the next batch to init."""
    import os
    import shutil

    from firebolt_cdc_lambda_spark.operators.scd2 import Scd2Table
    p = str(tmp_path / "dim")
    t = Scd2Table(spark, p, KEYS, ORDER, TRACKED, num_buckets=16)
    t.init(_df(spark, [(k, 10, k, "a") for k in range(8)]
               + [(k, 30, 100 + k, "b") for k in range(8)]))
    t.rewind(30)
    want = _canon(t.read())
    assert len(want) == 8
    shutil.move(p, p + "__old")
    t2 = Scd2Table(spark, p, KEYS, ORDER, TRACKED, num_buckets=4)
    assert t2.num_buckets == 16 and t2.has_data()
    assert _canon(t2.read()) == want
    assert not os.path.exists(p + "__old")
