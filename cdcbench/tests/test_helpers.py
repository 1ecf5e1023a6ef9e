"""Tests of the benchmark's own machinery (no Spark session needed):
generator determinism, the workloads' fixed cycles, the oracle, the
tail percentile and span self-time arithmetic.

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from cdcbench import gen, oracle
from cdcbench.run import END_TO_END, PER_LAYER
from cdcbench.stats import percentile, tail, tail_percentile
from cdcbench.trace import self_time, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(pq.read_table(p).to_pandas().to_csv().encode())
    return h.hexdigest()


def _lambda(tmp_path, seed):
    root = str(tmp_path / f"s{seed}")
    hist, warm, timed = gen.lambda_inputs(root, seed)
    return root, hist, warm, timed[:30]


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _lambda(tmp_path / "a", 7)
    b = _lambda(tmp_path / "b", 7)
    c = _lambda(tmp_path / "c", 8)
    assert _digest(a[0]) == _digest(b[0])
    assert _digest(a[0]) != _digest(c[0])


def test_seed_changes_values_not_shape(tmp_path):
    _, _, wa, ta = _lambda(tmp_path, 1)
    _, _, wb, tb = _lambda(tmp_path, 2)
    shape = [(f.kind, f.expect, f.keys, f.rows) for f in wa + ta]
    assert shape == [(f.kind, f.expect, f.keys, f.rows) for f in wb + tb]
    kinds = [f.kind for f in ta]
    assert kinds[gen.LAMBDA_EVOLVE_AT] == "evolve"
    assert {"small", "large", "dup", "replay", "load"} <= set(kinds)


def test_lambda_change_mix(tmp_path):
    root, hist, warm, timed = _lambda(tmp_path, 3)
    files = [f for f in warm + timed if f.expect == "completed"]
    ops = pa.concat_arrays([
        pq.read_table(os.path.join(root, f.path), columns=["Op"])
        .column("Op").combine_chunks() for f in files])
    share = pc.sum(pc.equal(ops, "D")).as_py() / len(ops)
    assert 0.12 < share < 0.17          # ~1 row in 7 is a delete
    dup = [f for f in files if f.kind == "dup"]
    assert dup and all(f.rows == f.keys + gen.DUP_KEYS for f in dup)


def test_every_lambda_cycle_holds_the_same_mix():
    cycles = [[gen.lambda_kind(c * gen.LAMBDA_CYCLE + j)
               for j in range(gen.LAMBDA_CYCLE)]
              for c in range(gen.LAMBDA_SEQUENCE_LEN // gen.LAMBDA_CYCLE)]
    assert cycles[0][gen.LAMBDA_EVOLVE_AT] == "evolve"
    cycles[0][gen.LAMBDA_EVOLVE_AT] = "small"
    assert all(c == cycles[0] for c in cycles)
    assert sorted(cycles[0]) == sorted(
        ["large", "load", "replay", "dup"] + ["small"] * 6)


def test_read_cycle_holds_every_query_and_a_tail():
    from cdcbench.workloads import CORPUS_QUERIES, READ_CYCLE, VALIDATION_SQL
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    names = {k: [n for kind, n in READ_CYCLE if kind == k]
             for k in ("lookup", "sql", "corpus")}
    assert sorted(set(names["sql"])) == sorted(VALIDATION_SQL)
    assert len({names["sql"].count(n) for n in VALIDATION_SQL}) == 1
    assert sorted(names["corpus"]) == sorted(CORPUS_QUERIES)
    assert set(CORPUS_QUERIES) <= set(ALL_QUERIES)
    assert names["lookup"].count("orders") == names["lookup"].count("lineitem")
    # one cycle is enough samples for a tail percentile, not the maximum
    assert tail_percentile(len(READ_CYCLE)) == 75.0


def test_replays_point_at_completed_files(tmp_path):
    _, _, warm, timed = _lambda(tmp_path, 4)
    done = set()
    for f in warm + timed:
        if f.kind == "replay":
            assert f.replay_of in done
        elif f.expect == "completed":
            done.add(f.path)


# -- oracle -----------------------------------------------------------------
def _write(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), path)
    return str(path)


@pytest.fixture
def history(tmp_path):
    ts = lambda m: gen.T0.replace(minute=m)  # noqa: E731
    load = _write(tmp_path / "load.parquet", [
        {"k": 1, "v": "a", "Op": "I", "load_timestamp": ts(0)},
        {"k": 2, "v": "b", "Op": "I", "load_timestamp": ts(0)},
        {"k": 3, "v": "c", "Op": "I", "load_timestamp": ts(0)},
    ])
    f1 = _write(tmp_path / "f1.parquet", [
        {"k": 1, "v": "a1", "Op": "U", "load_timestamp": ts(1)},
        {"k": 2, "v": "b", "Op": "D", "load_timestamp": ts(1)},
        {"k": 4, "v": "d", "Op": "I", "load_timestamp": ts(1)},
        {"k": 1, "v": "a2", "Op": "U", "load_timestamp": ts(1)},  # row order
    ])
    f2 = _write(tmp_path / "f2.parquet", [
        {"k": 3, "v": "c1", "Op": "U", "load_timestamp": ts(3)},
        {"k": 3, "v": "c0", "Op": "U", "load_timestamp": ts(2)},  # older
    ])
    return [load, f1, f2]


def test_oracle_last_writer_and_deletes(history):
    con = oracle.connect()
    exp = oracle.expected_state(con, ["k"], history)
    got = sorted(exp.to_pylist(), key=lambda r: r["k"])
    assert got == [{"k": 1, "v": "a2"}, {"k": 3, "v": "c1"},
                   {"k": 4, "v": "d"}]


def test_oracle_accepts_same_rows_in_any_order(history):
    con = oracle.connect()
    exp = oracle.expected_state(con, ["k"], history)
    shuffled = exp.take([2, 0, 1]).select(["v", "k"])
    assert oracle.compare(con, shuffled, exp) is None


def test_oracle_flags_a_dropped_row(history):
    con = oracle.connect()
    exp = oracle.expected_state(con, ["k"], history)
    assert oracle.compare(con, exp.slice(0, 2), exp) is not None


def test_oracle_flags_a_stale_value(history):
    con = oracle.connect()
    exp = oracle.expected_state(con, ["k"], history)
    stale = pa.table({"k": exp.column("k"),
                      "v": pa.array(["a1" if v == "a2" else v
                                     for v in exp.column("v").to_pylist()])})
    assert oracle.compare(con, stale, exp) is not None


def test_oracle_flags_a_missing_column(history):
    con = oracle.connect()
    exp = oracle.expected_state(con, ["k"], history)
    assert oracle.compare(con, exp.select(["k"]), exp) is not None


# -- statistics and spans ---------------------------------------------------
@pytest.mark.parametrize("n,expected", [
    (1, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        values = list(range(1, n + 1))
        assert sum(1 for v in values if v > percentile(values, p)) >= 10


def test_tail_falls_back_to_max_with_few_samples():
    assert tail([3.0, 1.0, 2.0]) == (3.0, None)
    values = [float(i) for i in range(1, 41)]
    assert tail(values) == (30.0, 75.0)


def test_self_time_of_nested_spans():
    # parent 0..10 with children 1..3 and 2..5 (overlapping) and 9..12
    # (runs past the parent): covered = 1..5 and 9..10 = 5
    assert self_time(0, 10, [(1, 3), (2, 5), (9, 12)]) == pytest.approx(5.0)
    assert self_time(0, 10, []) == pytest.approx(10.0)
    assert self_time(0, 10, [(11, 12)]) == pytest.approx(10.0)
    assert union_length([(0, 1), (1, 2), (5, 6)]) == pytest.approx(3.0)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
