"""Tracing from outside the engine.

Spans are recorded around calls into each layer's public methods by
wrapping those methods on their classes for the duration of a traced
run; no engine file changes.  Every span adds a Spark job tag on the
calling thread (tags are thread-local, so jobs of concurrent fleet
streams land on the right span), and at the end the jobs, stages and
SQL executions in Spark's own status store are attributed to spans
through those tags.  Streaming micro-batch phases come from a
``StreamingQueryListener``.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import itertools
import threading
import time

TAG_PREFIX = "cdcbench-span-"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children
               if e > start and s < end]
    return (end - start) - union_length(clipped)


class Tracer:
    """In-memory span recorder.  Disabled tracers cost one attribute
    check per call and patch nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[type, str, object]] = []
        self.progress: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, tag_jobs: bool = True, **info):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.get_ident(), "phase": self.phase,
               "start": time.time(), "end": None, "info": dict(info)}
        tag = f"{TAG_PREFIX}{sid}" if tag_jobs else None
        sc = self.spark.sparkContext
        if tag:
            sc.addJobTag(tag)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            if tag:
                sc.removeJobTag(tag)
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, cls: type, attr: str, name: str, on_result=None,
             tag_jobs: bool = True) -> None:
        """Run every call of ``cls.attr`` inside a span named ``name``;
        ``on_result(info, result)`` may copy facts from the return value
        into the span.  ``tag_jobs=False`` for calls that start streaming
        queries: a query inherits the starting thread's job tags, and
        PySpark's listener then fails to convert its start event."""
        if not self.enabled:
            return
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, tag_jobs=tag_jobs) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec["info"], result)
                return result

        setattr(cls, attr, traced)
        self._patched.append((cls, attr, orig))

    def unpatch(self) -> None:
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()

    # -- streaming progress ---------------------------------------------
    def listen_streams(self) -> None:
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener
        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = dt.datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")).timestamp()
                with tracer._lock:
                    tracer.progress.append({
                        "query": str(p.id), "batch": p.batchId,
                        "phase": tracer.phase, "trigger_start": ts,
                        "rows": p.numInputRows,
                        "durationMs": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def stop_listening(self) -> None:
        if getattr(self, "_listener", None) is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


def drain_listener_bus(spark) -> None:
    """Wait until Spark has delivered every queued listener event, so the
    status store and the streaming listener are complete."""
    spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def spark_jobs(spark, window: tuple | None = None) -> list[dict]:
    """Every job in Spark's status store (or those submitted inside
    ``window``), with its tags, times, counts and summed metrics of the
    stages that ran.  With a window, a stage that ran before it and is
    reused inside it counts for its first job in the window; that moves
    only shuffle-map metrics, never output bytes."""
    drain_listener_bus(spark)
    store = spark._jsparkSession.sparkContext().statusStore()
    jobs = store.jobsList(None)
    out = []
    owner: dict[int, int] = {}     # stage -> job that ran it (the first)
    for i in range(jobs.size()):   # newest job first
        j = jobs.apply(i)
        sub = _opt(j.submissionTime())
        if window is not None and sub is not None \
                and sub.getTime() / 1000.0 < window[0]:
            break
        comp = _opt(j.completionTime())
        sids = j.stageIds()
        stage_ids = [sids.apply(k) for k in range(sids.size())]
        for sid in stage_ids:
            owner[sid] = min(owner.get(sid, j.jobId()), j.jobId())
        if window is not None and (
                sub is None or sub.getTime() / 1000.0 > window[1]):
            continue
        tags = j.jobTags()
        out.append({
            "id": j.jobId(),
            "tags": [tags.apply(k) for k in range(tags.size())],
            "start": sub.getTime() / 1000.0 if sub is not None else None,
            "end": comp.getTime() / 1000.0 if comp is not None else None,
            "stages": sids.size() - j.numSkippedStages(),
            "tasks": j.numTasks() - j.numSkippedTasks(),
            "stage_ids": stage_ids,
        })
    for job in out:
        m = {"input_bytes": 0, "output_bytes": 0, "output_records": 0,
             "shuffle_bytes": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0}
        for sid in job.pop("stage_ids"):
            # a stage reused by a later job is skipped there: its
            # metrics belong to the job that ran it
            s = _stage(store, sid) if owner[sid] == job["id"] else None
            if s is None:
                continue
            for k in m:
                m[k] += s[k]
        job.update(m)
    return out


def _stage(store, sid: int) -> dict | None:
    from py4j.protocol import Py4JError
    try:
        s = store.lastStageAttempt(sid)
    except Py4JError:
        return None
    if s.status().toString() == "SKIPPED":
        return None
    return {"input_bytes": s.inputBytes(), "output_bytes": s.outputBytes(),
            "output_records": s.outputRecords(),
            "shuffle_bytes": s.shuffleWriteBytes(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0}


def files_read_by_job(spark) -> dict[int, int]:
    """'number of files read' of every SQL execution, keyed by the
    execution's first job id (an execution's jobs share its spans)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    ex = sql.executionsList()
    out: dict[int, int] = {}
    for i in range(ex.size()):
        e = ex.apply(i)
        jobs = e.jobs().keys().toList()
        if jobs.size() == 0:
            continue
        names = {}
        ms = e.metrics()
        for k in range(ms.size()):
            pm = ms.apply(k)
            if pm.name() == "number of files read":
                names[pm.accumulatorId()] = True
        if not names:
            continue
        vals = sql.executionMetrics(e.executionId())
        n = 0
        for acc in names:
            if vals.contains(acc):
                n += int(str(vals.apply(acc)).replace(",", "") or 0)
        first = min(jobs.apply(k) for k in range(jobs.size()))
        out[first] = out.get(first, 0) + n
    return out


def span_of(job: dict) -> list[int]:
    """Span ids a job was tagged with."""
    return [int(t[len(TAG_PREFIX):]) for t in job["tags"]
            if t.startswith(TAG_PREFIX)]
