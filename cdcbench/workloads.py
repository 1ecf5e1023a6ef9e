"""The workloads.  Each drives the engine only through its public
entry points, times the operations a user waits for, and checks every
output against the oracle.  Failures are counted, never retried."""

from __future__ import annotations

import itertools
import json
import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from . import gen, oracle


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str           # scratch directory of this run
    seed: int
    seconds: float
    log: object         # print-like callable for progress lines


@dataclass
class Result:
    setup: dict = field(default_factory=dict)       # component -> seconds
    latencies: list = field(default_factory=list)   # timed per-op seconds
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    rows: int = 0                  # CDC rows applied / result rows returned
    ops: int = 0                   # timed operations
    cycle: int = 0                 # operations in one cycle of the mix
    wall: float = 0.0              # timed seconds
    window: tuple = (0.0, 0.0)     # (start, end) epoch seconds
    op_times: list = field(default_factory=list)    # (start, end) per op
    tables: dict = field(default_factory=dict)      # name -> KeyedTable
    ledger_dir: str | None = None
    info: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


def _keys_json(spec: dict[str, list[str]]):
    from firebolt_cdc_lambda_spark.config import TableKeys
    return TableKeys.from_json(json.dumps(
        {t: ",".join(k) for t, k in spec.items()}))


def _bootstrap(ctx: Ctx, res: Result, hists: dict):
    """Bootstrap every table from its LOAD file; returns the pipeline."""
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
    keys = _keys_json({t: h.key_cols for t, h in hists.items()})
    pipe = CdcPipeline(ctx.spark, os.path.join(ctx.work, "wh"), keys,
                       num_buckets=64)
    t0 = time.time()
    with ctx.tracer.span("session.bootstrap"):
        for t, h in hists.items():
            out = pipe.bootstrap_from_load_files(t, [h.load_path])
            if out.status != "bootstrapped":
                raise RuntimeError(f"bootstrap of {t}: {out.status}")
    res.setup["bootstrap_s"] = time.time() - t0
    return pipe


def _check_state(ctx: Ctx, con, pipe, hist) -> str | None:
    """Compare the live snapshot of one table with the oracle."""
    kt = pipe.target_for(hist.table, hist.key_cols)
    actual = kt.read().toArrow()
    expected = oracle.expected_state(con, hist.key_cols,
                                     [hist.load_path] + hist.applied)
    return oracle.compare(con, actual, expected)


# -- lambda_files ---------------------------------------------------------
def lambda_files(ctx: Ctx) -> Result:
    res = Result()
    src = os.path.join(ctx.work, "src")
    t0 = time.time()
    hist, warm, timed = gen.lambda_inputs(src, ctx.seed)
    res.setup["datagen_s"] = time.time() - t0
    pipe = _bootstrap(ctx, res, {"orders": hist})
    res.tables["orders"] = pipe.target_for("orders", hist.key_cols)
    res.ledger_dir = pipe.ledger.path

    def feed(f: gen.CdcFile) -> tuple[float, object]:
        path = os.path.join(src, f.path)
        t = time.time()
        out = pipe.process_file(path)
        return time.time() - t, out

    t0 = time.time()
    for f in warm:
        _, out = feed(f)
        if out.status != f.expect:
            raise RuntimeError(f"warm-up file {f.path}: {out.status}")
        hist.applied.append(os.path.join(src, f.path))
    res.setup["warmup_s"] = time.time() - t0

    # whole cycles only: past the deadline the loop finishes the cycle it
    # is in, so every run times the same mix of file kinds
    ctx.tracer.phase = "timed"
    res.cycle = gen.LAMBDA_CYCLE
    statuses: dict[str, int] = {}
    completed: list[gen.CdcFile] = []
    start = time.time()
    deadline = start + ctx.seconds
    j = 0
    while j < len(timed) and (time.time() < deadline or j % res.cycle):
        f = timed[j]
        j += 1
        res.attempted += 1
        t_op = time.time()
        try:
            lat, out = feed(f)
        except Exception as exc:  # noqa: BLE001 - counted, never retried
            res.fail(f"{f.path}: {type(exc).__name__}: {exc}")
            ctx.log(traceback.format_exc())
            continue
        finally:
            res.op_times.append((t_op, time.time()))
        statuses[out.status] = statuses.get(out.status, 0) + 1
        if out.status != f.expect:
            res.fail(f"{f.path} ({f.kind}): status {out.status}, "
                     f"expected {f.expect}")
            continue
        if f.expect == "completed":
            if out.rows != f.keys:
                res.fail(f"{f.path}: {out.rows} rows applied, "
                         f"expected {f.keys}")
                continue
            hist.applied.append(os.path.join(src, f.path))
            completed.append(f)
            res.latencies.append(lat)
            res.rows += out.rows
    end = time.time()
    ctx.tracer.phase = "verify"
    res.ops, res.wall, res.window = j, end - start, (start, end)
    res.info.update(statuses=statuses, kinds=[f.kind for f in timed[:j]])

    con = oracle.connect()
    reason = _check_state(ctx, con, pipe, hist)
    if reason is not None:
        # the state cannot say which file went wrong: every file that
        # landed in the timed loop is counted as failed
        res.failed += len(completed)
        res.failures.append(f"orders final state: {reason}")
    return res


# -- snapshot_reads -------------------------------------------------------
#: validation SQL over the registered warehouse views: the reference's
#: validation-corpus shapes, written so Spark SQL and DuckDB agree
VALIDATION_SQL = {
    "row_count": "SELECT COUNT(*) AS n FROM orders",
    "checksum": ("SELECT COUNT(*) AS n, SUM(o_orderkey) AS key_sum, "
                 "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
                 "AS price_sum FROM orders"),
    "group_status": ("SELECT o_orderstatus, COUNT(*) AS n, "
                     "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
                     "AS price_sum FROM orders GROUP BY o_orderstatus"),
    "top_k": ("SELECT o_orderkey, o_totalprice FROM orders "
              "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "dup_pk": ("SELECT COUNT(*) AS dup_keys FROM (SELECT l_orderkey, "
               "l_linenumber FROM lineitem GROUP BY l_orderkey, l_linenumber "
               "HAVING COUNT(*) > 1) d"),
    "line_summary": ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
                     "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
                     "AS qty FROM lineitem GROUP BY l_returnflag, l_linestatus"),
}
CORPUS_QUERIES = ("q1_pricing_summary", "q3_shipping_priority",
                  "val_agg_summary", "cdc_dedup_cascade")


def _read_cycle(blocks: int = 4, block: str = "LSSLSCSLSS") -> tuple:
    """One cycle of the read mix: ``block`` (L lookup, S validation SQL,
    C corpus query) repeated, lookups alternating between the tables and
    SQL and corpus queries taken in turn.  Four blocks give 40 queries,
    enough for a p75 tail with ten samples beyond it: 12 lookups, each
    validation query 4 times and each corpus query once."""
    tables = itertools.cycle(("orders", "lineitem"))
    sql = itertools.cycle(VALIDATION_SQL)
    corpus = itertools.cycle(CORPUS_QUERIES)
    pick = {"L": ("lookup", tables), "S": ("sql", sql), "C": ("corpus", corpus)}
    return tuple((pick[c][0], next(pick[c][1])) for c in block * blocks)


READ_CYCLE = _read_cycle()


def read_plan(rng: np.random.Generator, all_keys: dict, n: int) -> list[tuple]:
    """The first ``n`` queries of the seeded read mix.  The queries
    repeat READ_CYCLE for every seed, and the m-th lookup of a cycle
    asks for 1 + 7m mod 10 keys (1-10); the seed picks the keys, from
    every key ever written, deleted ones included."""
    okeys = all_keys["orders"]
    lk, ln = all_keys["lineitem"]
    plan = []
    for i in range(n):
        pos = i % len(READ_CYCLE)
        kind, name = READ_CYCLE[pos]
        if kind != "lookup":
            plan.append((kind, name, None))
            continue
        m = sum(1 for q in READ_CYCLE[:pos] if q[0] == "lookup")
        k = 1 + (7 * m) % 10
        if name == "orders":
            keys = tuple(int(x) for x in rng.choice(okeys, k, replace=False))
        else:
            keys = tuple((int(lk[x]), int(ln[x]))
                         for x in rng.choice(len(lk), k, replace=False))
        plan.append(("lookup", name, keys))
    return plan


def _expected_read(con, q: tuple):
    kind, name, arg = q
    if kind == "lookup":
        if name == "orders":
            cond = "o_orderkey IN (" + ", ".join(str(k) for k in arg) + ")"
        else:
            cond = " OR ".join(f"(l_orderkey = {a} AND l_linenumber = {b})"
                               for a, b in arg)
        sql = f"SELECT * FROM {name} WHERE {cond}"
    elif kind == "sql":
        sql = VALIDATION_SQL[name]
    else:
        from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
        sql = ALL_QUERIES[name].oracle
    return oracle.arrow(con.sql(sql))


def snapshot_reads(ctx: Ctx) -> Result:
    from firebolt_cdc_lambda_spark import sqlapi
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    res = Result()
    src = os.path.join(ctx.work, "src")
    t0 = time.time()
    hists, cdc, corpus_dir, all_keys = gen.reads_inputs(src, ctx.seed)
    res.setup["datagen_s"] = time.time() - t0
    pipe = _bootstrap(ctx, res, hists)
    # the change backlog lands through the streaming fleet (one trigger
    # per table with the fleet's default batch size, both tables
    # concurrently), so set-up also exercises the streaming layer; files
    # are stamped in generation order because the file source orders a
    # backlog by modification time
    from firebolt_cdc_lambda_spark.streaming.fleet import CdcFleet
    clock = time.time() - 3600.0
    for rel in cdc:
        path = os.path.join(src, rel)
        clock += 1.0
        os.utime(path, (clock, clock))
        hists[rel.split("/")[1]].applied.append(path)
    t0 = time.time()
    fleet = CdcFleet(pipe, src, os.path.join(ctx.work, "ckpt"))
    status = fleet.run_once(ctx.spark)
    if sorted(status) != sorted(hists) or \
            any(v != "drained" for v in status.values()):
        raise RuntimeError(f"set-up drain: {status}")
    res.setup["cdc_apply_s"] = time.time() - t0
    tables = {t: pipe.target_for(t, h.key_cols) for t, h in hists.items()}
    res.tables.update(tables)
    t0 = time.time()
    with ctx.tracer.span("sqlapi.register_warehouse"):
        sqlapi.register_warehouse(ctx.spark, pipe.table_root)
    res.info["register_warehouse_s"] = time.time() - t0

    def run(q: tuple):
        kind, name, arg = q
        if kind == "lookup":
            with ctx.tracer.span("merge.lookup", table=name):
                return tables[name].lookup(list(arg)).toArrow()
        if kind == "sql":
            with ctx.tracer.span("sqlapi.sql", query=name):
                return sqlapi.sql(ctx.spark, VALIDATION_SQL[name]).toArrow()
        with ctx.tracer.span("corpus.query", query=name):
            return ALL_QUERIES[name].fn(ctx.spark, corpus_dir).toArrow()

    rng = np.random.default_rng([ctx.seed, 4])
    t0 = time.time()
    for q in read_plan(rng, all_keys, 4):   # untimed: one lookup per
        run(q)                              # table and two SQL queries
    res.setup["warmup_s"] = time.time() - t0

    # whole cycles only, as in lambda_files
    plan = read_plan(rng, all_keys, 20 * len(READ_CYCLE))
    ctx.tracer.phase = "timed"
    res.cycle = len(READ_CYCLE)
    results = []
    start = time.time()
    deadline = start + ctx.seconds
    i = 0
    while i < len(plan) and (time.time() < deadline or i % res.cycle):
        q = plan[i]
        i += 1
        res.attempted += 1
        t = time.time()
        try:
            out = run(q)
        except Exception as exc:  # noqa: BLE001 - counted, never retried
            res.fail(f"{q[0]} {q[1]}: {type(exc).__name__}: {exc}")
            ctx.log(traceback.format_exc())
            continue
        finally:
            res.op_times.append((t, time.time()))
        res.latencies.append(time.time() - t)
        res.rows += out.num_rows
        results.append((q, out))
    end = time.time()
    ctx.tracer.phase = "verify"
    res.ops, res.wall, res.window = i, end - start, (start, end)
    res.info["mix"] = {k: sum(1 for q in plan[:i] if q[0] == k)
                       for k in ("lookup", "sql", "corpus")}

    wh = oracle.connect()
    for t, h in hists.items():
        exp = oracle.expected_state(wh, h.key_cols, [h.load_path] + h.applied)
        wh.register(f"_{t}", exp)
        wh.execute(f"CREATE TABLE {t} AS SELECT * FROM _{t}")
    cp = oracle.connect()
    for name in ("orders", "lineitem", "customer", "events"):
        cp.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                   f"read_parquet('{corpus_dir}/{name}.parquet')")
    cache: dict[tuple, object] = {}
    for q, out in results:
        if q not in cache:
            cache[q] = _expected_read(cp if q[0] == "corpus" else wh, q)
        reason = oracle.compare(wh, out, cache[q])
        if reason is not None:
            res.fail(f"{q[0]} {q[1]}: {reason}")
    return res


WORKLOADS = {
    "lambda_files": lambda_files,
    "snapshot_reads": snapshot_reads,
}
