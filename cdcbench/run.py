"""CDC engine benchmark: one workload per run.

    python3 cdcbench/run.py --workload lambda_files --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout; the engine is imported from there and
every file the run writes stays under ``.bench_work/`` (removed at the
end) and ``.bench_out/`` (one JSON record per run).  The last line of
standard output is the result: ``correct``, ``attempted``, ``failed``
and the end-to-end metrics (``--trace 0``) or the per-layer metrics of
the traced run (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: end-to-end metrics (tracing off): name -> unit
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "warehouse_bytes_per_row": "B/row",
}


def _layer_names() -> dict[str, str]:
    m: dict[str, str] = {}
    for n in ("jvm_start", "datagen", "bootstrap", "warmup"):
        m[f"session.{n}_s"] = "s"
    m["session.peak_rss_mb"] = "MB"
    m["env.calib_start_s"] = m["env.calib_end_s"] = "s"
    for op in ("is_processed", "record"):
        m[f"ledger.{op}.calls"] = "count"
        m[f"ledger.{op}.p50_s"] = "s"
        m[f"ledger.{op}.jobs_per_call"] = "count"
    m["ledger.files"] = "count"
    m["pipeline.process_file.self_s"] = "s"
    m["pipeline.process_batch.self_s"] = "s"
    m["pipeline.skipped_calls"] = "count"
    mrb = "merge.merge_raw_batch"
    m.update({f"{mrb}.p50_s": "s", f"{mrb}.total_s": "s",
              f"{mrb}.jobs_per_call": "count",
              f"{mrb}.stages_per_call": "count",
              f"{mrb}.tasks_per_call": "count",
              f"{mrb}.shuffle_bytes_per_call": "B",
              f"{mrb}.output_bytes_per_call": "B",
              f"{mrb}.buckets_rewritten_per_call": "count",
              f"{mrb}.rows_written_per_row_changed": "ratio",
              f"{mrb}.dedup_share": "ratio",
              "merge.rewrite.calls": "count", "merge.rewrite.total_s": "s",
              "merge.read.calls": "count", "merge.read.p50_s": "s",
              "merge.lookup.p50_s": "s", "merge.lookup.jobs_per_call": "count",
              "merge.lookup.files_read_per_call": "count"})
    m["streaming.batches"] = "count"
    m["streaming.start_s"] = "s"
    for ph in ("addBatch", "latestOffset", "queryPlanning", "walCommit",
               "commitOffsets"):
        m[f"streaming.{ph}_s"] = "s"
    m["streaming.trigger_overhead_s"] = "s"
    m["streaming.overlap"] = "ratio"
    m.update({"sqlapi.register_warehouse_s": "s", "sqlapi.sql.p50_s": "s",
              "corpus.query.p50_s": "s", "query.jobs_per_query": "count",
              "query.input_bytes_per_query": "B",
              "query.files_read_per_query": "count"})
    for n, u in (("jobs_per_op", "count"), ("stages_per_op", "count"),
                 ("tasks_per_op", "count"), ("job_busy_s", "s"),
                 ("driver_only_s", "s"), ("executor_run_s", "s"),
                 ("executor_cpu_s", "s"), ("gc_s", "s"),
                 ("input_bytes", "B"), ("shuffle_bytes", "B"),
                 ("output_bytes", "B")):
        m[f"spark.{n}"] = u
    m.update({"storage.files": "count", "storage.files_per_bucket": "count",
              "storage.bytes": "B", "storage.marker_rows": "count"})
    m.update({"trace.spans": "count", "trace.unattributed_s": "s",
              "trace.ops_per_s": "1/s", "trace.latency_p50_s": "s"})
    return m


PER_LAYER = _layer_names()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def start_spark(work: str):
    from firebolt_cdc_lambda_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    cores = min(4, os.cpu_count() or 1)
    spark = get_spark(
        app_name="cdcbench", master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": tmp,
            # no hsperfdata file under /tmp: the run writes only here
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep the whole run's jobs, stages and SQL executions in
            # the status store for attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def calibrate(spark) -> float:
    """Box-speed sentinel: a fixed Spark aggregate plus a single-core
    Python loop (median of three each).  Does not touch the engine."""
    from cdcbench.stats import median
    sp, py = [], []
    for _ in range(3):
        t = time.time()
        spark.range(0, 2_000_000, numPartitions=4).selectExpr(
            "sum(id % 7)").collect()
        sp.append(time.time() - t)
        t = time.time()
        sum(i * i for i in range(200_000))
        py.append(time.time() - t)
    return median(sp) + median(py)


def install_spans(tracer) -> None:
    from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
    from firebolt_cdc_lambda_spark.sources.ledger import FileLedger
    from firebolt_cdc_lambda_spark.streaming.cdc_stream import CdcStream
    from firebolt_cdc_lambda_spark.streaming.fleet import CdcFleet

    def batch_info(info, r):
        info.update(status=r.status, rows=r.rows)

    def merge_info(info, r):
        info.update(buckets=r[0], rows=r[1], dedup=bool(r[2]))

    def stream_info(info, q):
        info["query"] = str(q.id)

    tracer.wrap(CdcPipeline, "process_file", "pipeline.process_file", batch_info)
    tracer.wrap(CdcPipeline, "process_batch", "pipeline.process_batch",
                batch_info)
    tracer.wrap(FileLedger, "is_processed", "ledger.is_processed")
    tracer.wrap(FileLedger, "record", "ledger.record")
    tracer.wrap(KeyedTable, "merge_raw_batch", "merge.merge_raw_batch",
                merge_info)
    tracer.wrap(KeyedTable, "rewrite", "merge.rewrite")
    tracer.wrap(KeyedTable, "read", "merge.read")
    tracer.wrap(CdcStream, "start", "streaming.start", stream_info,
                tag_jobs=False)
    tracer.wrap(CdcFleet, "run_once", "streaming.run_once", tag_jobs=False)
    tracer.listen_streams()


def storage_stats(res, count_markers: bool) -> dict:
    """Files, bytes and buckets of every table's snapshot directory, plus
    live rows and (``count_markers``) tombstone-marker rows read through
    the engine."""
    from pyspark.sql import functions as F
    from firebolt_cdc_lambda_spark.operators.merge import TOMBSTONE_COL
    files = nbytes = buckets = live = markers = 0
    for kt in res.tables.values():
        for dirpath, dirnames, filenames in os.walk(kt.path):
            buckets += sum(1 for d in dirnames if d.startswith("_bucket="))
            for f in filenames:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
        live += kt.read().count()
        raw = kt.snapshot_for_rewrite() if count_markers else None
        if raw is not None and TOMBSTONE_COL in raw.columns:
            markers += raw.where(F.col(TOMBSTONE_COL)).count()
    return {"files": files, "bytes": nbytes, "buckets": buckets,
            "live_rows": live, "marker_rows": markers}


def _window_jobs(jobs: list[dict], window: tuple) -> list[dict]:
    s, e = window
    return [j for j in jobs if j["start"] is not None and s <= j["start"] <= e]


def _sum(jobs, key):
    return sum(j[key] for j in jobs)


def layer_metrics(tracer, res, window, n_ops, jobs, files_read, storage,
                  setup, calib, ledger_files, rss) -> dict:
    """Per-layer metrics of a traced run, over ``window``: the first
    ``n_ops`` timed operations (set-up metrics aside)."""
    from cdcbench.stats import median
    from cdcbench.trace import self_time, span_of, union_length
    spans = tracer.spans
    w0, w1 = window
    timed = [s for s in spans if s["phase"] == "timed" and w0 <= s["start"] <= w1]
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    jobs_of: dict[int, list] = {}
    for j in jobs:
        for sid in span_of(j):
            jobs_of.setdefault(sid, []).append(j)

    def named(name):
        return [s for s in timed if s["name"] == name]

    def med(xs):
        return median(xs) if xs else 0.0

    def dur(ss):
        return [s["end"] - s["start"] for s in ss]

    def per_call(ss, key):
        if not ss:
            return 0.0
        return sum(_sum(jobs_of.get(s["id"], []), key) for s in ss) / len(ss)

    def jobs_per_call(ss):
        if not ss:
            return 0.0
        return sum(len(jobs_of.get(s["id"], [])) for s in ss) / len(ss)

    def files_per_call(ss):
        if not ss:
            return 0.0
        return sum(files_read.get(j["id"], 0) for s in ss
                   for j in jobs_of.get(s["id"], [])) / len(ss)

    def self_med(ss):
        return med([self_time(s["start"], s["end"], children.get(s["id"], []))
                    for s in ss])

    m = {
        "session.jvm_start_s": setup["jvm_start_s"],
        "session.datagen_s": setup["datagen_s"],
        "session.bootstrap_s": setup["bootstrap_s"],
        "session.warmup_s": setup["warmup_s"],
        "session.peak_rss_mb": rss,
        "env.calib_start_s": calib[0], "env.calib_end_s": calib[1],
        "ledger.files": ledger_files,
    }
    for op in ("is_processed", "record"):
        ss = named(f"ledger.{op}")
        m[f"ledger.{op}.calls"] = len(ss)
        m[f"ledger.{op}.p50_s"] = med(dur(ss))
        m[f"ledger.{op}.jobs_per_call"] = jobs_per_call(ss)
    pf = named("pipeline.process_file")
    m["pipeline.process_file.self_s"] = self_med(pf)
    m["pipeline.process_batch.self_s"] = self_med(named("pipeline.process_batch"))
    m["pipeline.skipped_calls"] = sum(
        1 for s in pf if s["info"].get("status") == "skipped")
    mb = named("merge.merge_raw_batch")
    rows_changed = sum(s["info"].get("rows", 0) for s in mb)
    mrb = "merge.merge_raw_batch"
    m.update({
        f"{mrb}.p50_s": med(dur(mb)), f"{mrb}.total_s": sum(dur(mb)),
        f"{mrb}.jobs_per_call": jobs_per_call(mb),
        f"{mrb}.stages_per_call": per_call(mb, "stages"),
        f"{mrb}.tasks_per_call": per_call(mb, "tasks"),
        f"{mrb}.shuffle_bytes_per_call": per_call(mb, "shuffle_bytes"),
        f"{mrb}.output_bytes_per_call": per_call(mb, "output_bytes"),
        f"{mrb}.buckets_rewritten_per_call": (
            sum(s["info"].get("buckets", 0) for s in mb) / len(mb) if mb else 0.0),
        f"{mrb}.rows_written_per_row_changed": (
            per_call(mb, "output_records") * len(mb) / rows_changed
            if rows_changed else 0.0),
        f"{mrb}.dedup_share": (
            sum(1 for s in mb if s["info"].get("dedup")) / len(mb) if mb else 0.0),
    })
    rw = named("merge.rewrite")
    rd = named("merge.read")
    lk = named("merge.lookup")
    m.update({"merge.rewrite.calls": len(rw), "merge.rewrite.total_s": sum(dur(rw)),
              "merge.read.calls": len(rd), "merge.read.p50_s": med(dur(rd)),
              "merge.lookup.p50_s": med(dur(lk)),
              "merge.lookup.jobs_per_call": jobs_per_call(lk),
              "merge.lookup.files_read_per_call": files_per_call(lk)})

    # streaming: micro-batch phases from the progress listener, over the
    # timed drains, or over the set-up drain of a workload that times none
    drain_spans = named("streaming.run_once") or [
        s for s in spans if s["name"] == "streaming.run_once"]
    start_spans = named("streaming.start") or [
        s for s in spans if s["name"] == "streaming.start"]
    d0 = min((s["start"] for s in drain_spans), default=w0)
    d1 = max((s["end"] for s in drain_spans), default=w1)
    prog = [p for p in tracer.progress
            if d0 <= p["trigger_start"] <= d1 and "addBatch" in p["durationMs"]]

    def phase(name):
        return med([p["durationMs"].get(name, 0) / 1000.0 for p in prog])

    m["streaming.batches"] = len(prog)
    for ph in ("addBatch", "latestOffset", "queryPlanning", "walCommit",
               "commitOffsets"):
        m[f"streaming.{ph}_s"] = phase(ph)
    m["streaming.trigger_overhead_s"] = med(
        [(p["durationMs"].get("triggerExecution", 0)
          - p["durationMs"].get("addBatch", 0)) / 1000.0 for p in prog])
    drains = dur(drain_spans)
    m["streaming.overlap"] = (
        sum(p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in prog)
        / sum(drains) if drains else 0.0)
    starts = []
    for s in start_spans:
        first = [p["trigger_start"] + p["durationMs"].get("triggerExecution", 0)
                 / 1000.0 for p in tracer.progress
                 if p["query"] == s["info"].get("query")
                 and p["trigger_start"] >= s["start"] - 1.0]
        if first:
            starts.append(min(first) - s["start"])
    m["streaming.start_s"] = med(starts)

    reg = [s for s in spans if s["name"] == "sqlapi.register_warehouse"]
    sq = named("sqlapi.sql")
    cq = named("corpus.query")
    queries = lk + sq + cq
    m.update({"sqlapi.register_warehouse_s": sum(dur(reg)),
              "sqlapi.sql.p50_s": med(dur(sq)),
              "corpus.query.p50_s": med(dur(cq)),
              "query.jobs_per_query": jobs_per_call(queries),
              "query.input_bytes_per_query": per_call(queries, "input_bytes"),
              "query.files_read_per_query": files_per_call(queries)})

    wj = _window_jobs(jobs, window)
    ops = max(1, n_ops)
    busy = union_length([(max(j["start"], w0), min(j["end"] or w1, w1))
                         for j in wj])
    m.update({
        "spark.jobs_per_op": len(wj) / ops,
        "spark.stages_per_op": _sum(wj, "stages") / ops,
        "spark.tasks_per_op": _sum(wj, "tasks") / ops,
        "spark.job_busy_s": busy,
        "spark.driver_only_s": (w1 - w0) - busy,
        "spark.executor_run_s": _sum(wj, "run_s"),
        "spark.executor_cpu_s": _sum(wj, "cpu_s"),
        "spark.gc_s": _sum(wj, "gc_s"),
        "spark.input_bytes": _sum(wj, "input_bytes"),
        "spark.shuffle_bytes": _sum(wj, "shuffle_bytes"),
        "spark.output_bytes": _sum(wj, "output_bytes"),
    })
    m.update({
        "storage.files": storage["files"],
        "storage.files_per_bucket": storage["files"] / max(1, storage["buckets"]),
        "storage.bytes": storage["bytes"],
        "storage.marker_rows": storage["marker_rows"],
    })
    roots = [(max(s["start"], w0), min(s["end"], w1)) for s in timed
             if s["parent"] is None or s["parent"] not in by_id]
    m.update({"trace.spans": len(spans),
              "trace.unattributed_s": (w1 - w0) - union_length(
                  [r for r in roots if r[1] > r[0]]),
              "trace.ops_per_s": res.ops / res.wall if res.wall else 0.0,
              "trace.latency_p50_s": med(res.latencies)})
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the engine must come from this checkout; without it there is
    # nothing to measure and the run fails before printing a result
    import firebolt_cdc_lambda_spark  # noqa: F401

    from cdcbench import workloads as W
    from cdcbench.stats import timing
    from cdcbench.trace import Tracer, spark_jobs, files_read_by_job

    if args.workload not in W.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(W.WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.time()
        spark = start_spark(work)
        jvm_start = time.time() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        calib = [calibrate(spark) if args.trace else 0.0, 0.0]
        install_spans(tracer)
        ctx = W.Ctx(spark, tracer, work, args.seed, args.seconds, log)
        try:
            res = W.WORKLOADS[args.workload](ctx)
        finally:
            tracer.unpatch()
            tracer.stop_listening()
        if args.trace:
            calib[1] = calibrate(spark)
        storage = storage_stats(res, count_markers=bool(args.trace))
        jobs = spark_jobs(spark, None if args.trace else res.window)
        wjobs = _window_jobs(jobs, res.window)
        files_read = files_read_by_job(spark) if args.trace else {}
        ledger_files = 0
        if res.ledger_dir and os.path.isdir(res.ledger_dir):
            ledger_files = sum(
                1 for _d, _s, fs in os.walk(res.ledger_dir)
                for f in fs if f.endswith(".parquet"))
        rss = vm_hwm_mb("self") + vm_hwm_mb(
            spark._jvm.ProcessHandle.current().pid())
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup = {"jvm_start_s": jvm_start,
             "datagen_s": res.setup.pop("datagen_s"),
             "bootstrap_s": res.setup.pop("bootstrap_s"),
             "warmup_s": sum(res.setup.values())}
    lat = timing(res.latencies) if res.latencies else None
    e2e = {
        "setup_s": sum(setup.values()),
        "latency_p50_s": lat["p50"] if lat else 0.0,
        "latency_tail_s": lat["tail"] if lat else 0.0,
        "ops_per_s": res.ops / res.wall if res.wall else 0.0,
        "warehouse_bytes_per_row": storage["bytes"] / max(1, storage["live_rows"]),
    }
    out_bytes = _sum(wjobs, "output_bytes")
    # the metrics under the names the workload's users know them by
    unit = {"lambda_files": "file", "snapshot_reads": "query"}[args.workload]
    rate = {"lambda_files": "files_per_s",
            "snapshot_reads": "queries_per_s"}[args.workload]
    named = {
        "setup_s": e2e["setup_s"],
        f"{unit}_latency_p50_s": e2e["latency_p50_s"],
        f"{unit}_latency_tail_s": e2e["latency_tail_s"],
        f"{unit}_latency_tail_pct": lat["tail_pct"] if lat else None,
        f"{unit}_latency_samples": lat["n"] if lat else 0,
        rate: e2e["ops_per_s"],
        "rows_per_s": res.rows / res.wall if res.wall else 0.0,
        "failed_ratio": res.failed / max(1, res.attempted),
        "write_bytes_per_row": (out_bytes / res.rows
                                if args.workload == "lambda_files" and res.rows
                                else None),
        "warehouse_bytes_per_row": e2e["warehouse_bytes_per_row"],
        "peak_rss_mb": rss,
    }
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "setup": setup,
              "latencies": res.latencies, "named": named,
              "end_to_end": e2e, "storage": storage,
              "failures": res.failures, "info": res.info}
    if args.trace:
        # the first whole cycle of the timed loop: a fixed prefix of the
        # seeded sequence, so its job, stage and task counts repeat
        n_ops = min(res.cycle, len(res.op_times))
        window = ((res.op_times[0][0], res.op_times[n_ops - 1][1])
                  if n_ops else res.window)
        metrics = layer_metrics(tracer, res, window, n_ops, jobs, files_read,
                                storage, setup, calib, ledger_files, rss)
        record["trace_window_ops"] = n_ops
        record["per_layer"] = metrics
        record["spans"] = tracer.spans
        record["progress"] = tracer.progress
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    outdir = os.path.join(ROOT, ".bench_out")
    os.makedirs(outdir, exist_ok=True)
    with open(os.path.join(outdir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for f in res.failures:
        log("FAILED:", f)
    print(json.dumps({"workload": args.workload, **named}))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
