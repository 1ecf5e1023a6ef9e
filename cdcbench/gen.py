"""Seeded input generator for the CDC benchmark.

Every input the engine sees is a Parquet file written here, laid out the
way AWS DMS lands them: ``fair/<table>/YYYY/MM/DD/<file>.parquet``.  The
seed changes the values (keys picked, prices, dates, strings); the shape
of each workload (file sizes, insert/update/delete mix, key skew,
repeated keys, replays, ``LOAD*`` files, the position of the
schema-evolution file) is fixed by the constants below, so two seeds
stress the engine the same way.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: load_timestamp of the full-load (LOAD*) rows; CDC rows come later
T0 = dt.datetime(2024, 3, 1)

ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAG = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]

#: column the schema-evolution file adds (ALTER TABLE ADD COLUMN upstream)
EVOLVED_COL = "o_clerk"

# -- shape: identical for every seed -----------------------------------
SMALL_ROWS = 30          # the reference's typical DMS file
LARGE_ROWS = 3000        # a busy minute
DELETE_SHARE = 1 / 7     # ~1 row in 7 is a delete
INSERT_SHARE = 1 / 7     # new keys; the rest are updates of live keys
HOT_KEYS = 1500          # updates draw from this hot set half the time
HOT_SHARE = 0.5
DUP_KEYS = 6             # keys written twice inside one "dup" file

#: lambda_files: files processed untimed in set-up, then the timed
#: sequence, a repeating cycle of LAMBDA_CYCLE files.  Kinds: small,
#: large, dup, evolve, replay, load.
LAMBDA_WARMUP = ("small", "large", "dup", "small")
LAMBDA_CYCLE = 10
LAMBDA_EVOLVE_AT = 3     # timed position of the schema-evolution file
LAMBDA_SEQUENCE_LEN = 10 * LAMBDA_CYCLE


def lambda_kind(j: int) -> str:
    """Kind of the j-th timed file of ``lambda_files``.  Positions are
    fixed so every seed meets the same mix, and every whole cycle of
    LAMBDA_CYCLE files holds the same shares: 1 file in 10 is a ~3k-row
    file, 1 a ``LOAD*`` file, 1 a replay, 1 carries repeated keys and
    the rest are ~30-key files.  The first cycle's fourth file adds a
    column (in later cycles that position is a small file)."""
    if j == LAMBDA_EVOLVE_AT:
        return "evolve"
    return {1: "large", 2: "load", 5: "replay", 7: "dup"}.get(
        j % LAMBDA_CYCLE, "small")


@dataclass
class CdcFile:
    """One generated file and what the engine must do with it."""
    path: str               # relative to the source root
    kind: str
    expect: str             # BatchResult.status the engine must return
    keys: int = 0           # distinct keys (rows after dedup)
    rows: int = 0           # rows in the file
    replay_of: str | None = None


@dataclass
class TableHistory:
    """Everything the oracle needs to rebuild one table: the full-load
    file and the CDC files the engine applies, in order."""
    table: str
    key_cols: list[str]
    load_path: str
    applied: list[str] = field(default_factory=list)


def _ts(minutes: float) -> np.datetime64:
    return np.datetime64(T0, "us") + np.timedelta64(int(minutes * 60e6), "us")


def _file_path(table: str, seq: int, name: str) -> str:
    day = T0 + dt.timedelta(days=1 + seq // 1000)
    return (f"fair/{table}/{day:%Y/%m/%d}/{name}.parquet")


def write(root: str, rel: str, table: pa.Table) -> str:
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# -- row makers ---------------------------------------------------------
def orders_rows(rng: np.random.Generator, keys: np.ndarray,
                evolved: bool = False) -> dict[str, pa.Array]:
    n = len(keys)
    cols = {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15_001, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2)),
        "o_orderdate": pa.array(
            (np.datetime64("1992-01-01")
             + rng.integers(0, 2400, n).astype("timedelta64[D]"))
            .astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(ORDER_PRIORITY, n)),
    }
    if evolved:
        cols[EVOLVED_COL] = pa.array(
            [f"Clerk#{c:09d}" for c in rng.integers(1, 1001, n)])
    return cols


def lineitem_rows(rng: np.random.Generator, okeys: np.ndarray,
                  lnums: np.ndarray) -> dict[str, pa.Array]:
    n = len(okeys)
    qty = rng.integers(1, 51, n).astype(float)
    ship = (np.datetime64("1992-01-02")
            + rng.integers(0, 2500, n).astype("timedelta64[D]"))
    return {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_linenumber": pa.array(lnums, pa.int32()),
        "l_partkey": pa.array(rng.integers(1, 20_001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n), pa.int64()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(RETURN_FLAG, n)),
        "l_linestatus": pa.array(rng.choice(LINE_STATUS, n)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    }


def with_cdc(cols: dict[str, pa.Array], ops: list[str],
             ts: np.ndarray) -> pa.Table:
    out = dict(cols)
    out["Op"] = pa.array(ops, pa.string())
    out["load_timestamp"] = pa.array(ts.astype("datetime64[us]"))
    return pa.table(out)


# -- keyed-table change streams -----------------------------------------
class KeySpace:
    """Live keys of one table, so every generated change is meaningful:
    inserts use fresh keys, updates and deletes hit live ones (updates
    skewed towards a hot set)."""

    def __init__(self, rng: np.random.Generator, live: np.ndarray,
                 next_key: int, step: int = 1):
        self.rng = rng
        self.live = set(int(k) for k in live)
        self.pool = np.array(sorted(self.live), dtype=np.int64)
        self.hot = rng.choice(self.pool, min(HOT_KEYS, len(self.pool)),
                              replace=False)
        self.next_key = next_key
        self.step = step

    def _pick(self, n: int, taken: set[int], hot: bool) -> list[int]:
        out: list[int] = []
        while len(out) < n:
            src = self.hot if hot and self.rng.random() < HOT_SHARE else self.pool
            k = int(src[self.rng.integers(0, len(src))])
            if k in self.live and k not in taken:
                taken.add(k)
                out.append(k)
        return out

    def change_set(self, n: int) -> tuple[list[int], list[str]]:
        """``n`` distinct keys with their ops, ~1/7 deletes and ~1/7
        inserts, in a seeded order."""
        n_del = max(1, round(n * DELETE_SHARE))
        n_ins = max(1, round(n * INSERT_SHARE))
        n_upd = n - n_del - n_ins
        taken: set[int] = set()
        upd = self._pick(n_upd, taken, hot=True)
        dele = self._pick(n_del, taken, hot=False)
        ins = list(range(self.next_key, self.next_key + n_ins * self.step,
                         self.step))
        self.next_key += n_ins * self.step
        keys = upd + dele + ins
        ops = ["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins
        order = self.rng.permutation(len(keys))
        keys = [keys[i] for i in order]
        ops = [ops[i] for i in order]
        for k, op in zip(keys, ops):
            if op == "D":
                self.live.discard(k)
            else:
                self.live.add(k)
        if n_ins:
            self.pool = np.concatenate(
                [self.pool, np.array(ins, dtype=np.int64)])
        return keys, ops


def orders_change_file(rng: np.random.Generator, ks: KeySpace, n: int,
                       minute: float, dup: bool = False,
                       evolved: bool = False) -> tuple[pa.Table, int]:
    """A CDC file of ``n`` distinct orders keys.  ``dup`` appends
    DUP_KEYS extra rows for keys already in the file: half with the same
    load_timestamp and op (ingestion order decides), half a later
    delete/update (the later timestamp decides).  Returns the table and
    its distinct-key count."""
    keys, ops = ks.change_set(n)
    ts = np.array([_ts(minute)] * n)
    ts = ts + np.arange(n).astype("timedelta64[us]")
    if dup:
        extra_k, extra_op, extra_ts = [], [], []
        for i, idx in enumerate(rng.choice(
                [i for i, o in enumerate(ops) if o != "D"], DUP_KEYS,
                replace=False)):
            k = keys[idx]
            if i % 2 == 0:
                extra_k.append(k)
                extra_op.append(ops[idx])
                extra_ts.append(ts[idx])          # tie: row order decides
            else:
                extra_k.append(k)
                extra_op.append("U")
                extra_ts.append(ts[idx] + np.timedelta64(1, "s"))
        keys = keys + extra_k
        ops = ops + extra_op
        ts = np.concatenate([ts, np.array(extra_ts)])
    cols = orders_rows(rng, np.array(keys, dtype=np.int64), evolved)
    return with_cdc(cols, ops, ts), n


def orders_load(rng: np.random.Generator, n_rows: int,
                evolved: bool = False) -> tuple[pa.Table, np.ndarray]:
    keys = np.arange(1, n_rows + 1, dtype=np.int64) * 4
    cols = orders_rows(rng, keys, evolved)
    return with_cdc(cols, ["I"] * n_rows, np.array([_ts(0)] * n_rows)), keys


# -- workload inputs ------------------------------------------------------
LAMBDA_ORDERS_ROWS = 150_000


def lambda_inputs(root: str, seed: int) -> tuple[TableHistory, list[CdcFile],
                                                 list[CdcFile]]:
    """``lambda_files``: one orders table (150k rows) and its file
    sequence.  Returns (history, warm-up files, timed files)."""
    rng = np.random.default_rng([seed, 1])
    load, keys = orders_load(rng, LAMBDA_ORDERS_ROWS)
    hist = TableHistory("orders", ["o_orderkey"],
                        write(root, _file_path("orders", 0, "LOAD00000001"),
                              load))
    ks = KeySpace(rng, keys, next_key=int(keys[-1]) + 4, step=4)
    done: list[CdcFile] = []      # completed files so far, for replays
    evolved = False
    n_load = 1

    def make(kind: str, g: int) -> CdcFile:
        nonlocal evolved, n_load
        name = f"cdc{g:06d}"
        if kind == "replay":
            src = done[-1 - int(rng.integers(0, min(3, len(done))))]
            return CdcFile(src.path, "replay", "already_processed",
                           replay_of=src.path)
        if kind == "load":
            n_load += 1
            t, _ = orders_load(rng, SMALL_ROWS, evolved)
            rel = _file_path("orders", g, f"LOAD{n_load:08d}")
            write(root, rel, t)
            return CdcFile(rel, "load", "skipped", rows=t.num_rows)
        if kind == "evolve":
            evolved = True
        n = LARGE_ROWS if kind == "large" else SMALL_ROWS
        t, nkeys = orders_change_file(rng, ks, n, minute=g + 1,
                                      dup=kind == "dup", evolved=evolved)
        rel = _file_path("orders", g, name)
        write(root, rel, t)
        f = CdcFile(rel, kind, "completed", keys=nkeys, rows=t.num_rows)
        done.append(f)
        return f

    warm = [make(k, g) for g, k in enumerate(LAMBDA_WARMUP)]
    timed = [make(lambda_kind(j), len(warm) + j)
             for j in range(LAMBDA_SEQUENCE_LEN)]
    return hist, warm, timed


READS_ORDERS_ROWS = 20_000
READS_LINES_PER_ORDER = 4
READS_CDC_FILES = 4       # per warehouse, alternating orders / lineitem
READS_CDC_ROWS = 300


def lineitem_change_file(rng, live_orders: np.ndarray, lines: dict,
                         n_orders: int, minute: float) -> pa.Table:
    """Changes to the lines of ``n_orders`` orders: each line is updated
    (U), deleted (D, ~1 in 7) or a new line is added (I)."""
    okeys, lnums, ops = [], [], []
    for ok in rng.choice(live_orders, n_orders, replace=False):
        ok = int(ok)
        cur = lines.setdefault(ok, set())
        for ln in sorted(cur):
            r = rng.random()
            op = "D" if r < DELETE_SHARE else "U" if r < 0.6 else None
            if op is not None:
                okeys.append(ok)
                lnums.append(ln)
                ops.append(op)
            if op == "D":
                cur.discard(ln)
        if rng.random() < INSERT_SHARE * 3:
            ln = max(cur | {0}) + 1
            okeys.append(ok)
            lnums.append(ln)
            ops.append("I")
            cur.add(ln)
    n = len(okeys)
    ts = np.array([_ts(minute)] * n) + np.arange(n).astype("timedelta64[us]")
    cols = lineitem_rows(rng, np.array(okeys, np.int64),
                         np.array(lnums, np.int32))
    return with_cdc(cols, ops, ts)


def reads_inputs(root: str, seed: int):
    """``snapshot_reads``: orders (20k) + lineitem (~65k) LOAD files,
    READS_CDC_FILES change files applied in set-up, and a corpus
    directory (customer, orders, lineitem, events base tables) for the
    corpus queries.  Returns (histories, cdc file paths in order,
    corpus dir, all keys ever written per table)."""
    rng = np.random.default_rng([seed, 3])
    n = READS_ORDERS_ROWS
    o_load, o_keys = orders_load(rng, n)
    lk = np.repeat(o_keys, READS_LINES_PER_ORDER)
    ln = np.tile(np.arange(1, READS_LINES_PER_ORDER + 1, dtype=np.int32), n)
    keep = rng.random(len(lk)) < 0.75          # 1..4 lines per order
    keep[::READS_LINES_PER_ORDER] = True
    lk, ln = lk[keep], ln[keep]
    l_load = with_cdc(lineitem_rows(rng, lk, ln), ["I"] * len(lk),
                      np.array([_ts(0)] * len(lk)))
    hists = {
        "orders": TableHistory("orders", ["o_orderkey"], write(
            root, _file_path("orders", 0, "LOAD00000001"), o_load)),
        "lineitem": TableHistory("lineitem", ["l_orderkey", "l_linenumber"],
                                 write(root, _file_path(
                                     "lineitem", 0, "LOAD00000001"), l_load)),
    }
    ks = KeySpace(rng, o_keys, next_key=int(o_keys[-1]) + 4, step=4)
    lines: dict[int, set[int]] = {}
    for ok, l in zip(lk.tolist(), ln.tolist()):
        lines.setdefault(ok, set()).add(l)
    cdc = []
    for i in range(READS_CDC_FILES):
        if i % 2 == 0:
            t, _ = orders_change_file(rng, ks, READS_CDC_ROWS, minute=i + 1,
                                      dup=i % 4 == 0)
            rel = _file_path("orders", i + 1, f"cdc{i + 1:06d}")
        else:
            t = lineitem_change_file(rng, o_keys, lines,
                                     READS_CDC_ROWS // 3, minute=i + 1)
            rel = _file_path("lineitem", i + 1, f"cdc{i + 1:06d}")
        write(root, rel, t)
        cdc.append(rel)
    corpus = os.path.join(root, "corpus")
    os.makedirs(corpus, exist_ok=True)
    drop = ["Op", "load_timestamp"]
    pq.write_table(o_load.drop(drop), f"{corpus}/orders.parquet")
    pq.write_table(l_load.drop(drop), f"{corpus}/lineitem.parquet")
    nc = 15_000
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, nc + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    }), f"{corpus}/customer.parquet")
    ne = 20_000
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(1, ne + 1), pa.int64()),
        "ts": pa.array(np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                               + rng.integers(0, 30 * 86400, ne)
                               .astype("timedelta64[s]"))),
        "user_id": pa.array(rng.integers(1, 2001, ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.uniform(0, 500, ne), 2)),
        "props": pa.array(["{}"] * ne),
    }), f"{corpus}/events.parquet")
    all_keys = {"orders": np.array(sorted(ks.live | set(o_keys.tolist()))),
                "lineitem": (lk, ln)}
    return hists, cdc, corpus, all_keys
