"""SparkSession factory with scale-oriented defaults.

The engine is designed for a multi-executor cluster reading ~100 TB; the
local[{N}] session used in tests/bench only changes the master URL, not the
plan shapes.  AQE is on so skewed CDC keys and small post-filter shuffles
are re-planned at runtime.  The partition-overwrite mode stays Spark's
default: every overwrite sets its own (see fsio.py).
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

# local-mode heap: pyspark's default driver memory is 1g, and in local
# mode the driver JVM IS every executor thread — local[32] workers
# sharing a 1g heap is what a real cluster would never look like.  The
# quadratic exact-baseline query (dedup_ngram_jaccard) at sf0.1 was the
# first to actually fall over (task OOM -> shuffle-file loss -> JVM
# exit).  The default is DERIVED from the host's physical memory (1/8,
# clamped to [2g, 16g]) rather than hard-coding the 128 GiB dev box's
# 16g (round-6 advisor): a 16 GiB host importing the library gets 2g,
# this box still gets 16g.  Env-overridable like the rest.
def _default_driver_memory() -> str:
    try:
        total_gib = (os.sysconf("SC_PAGE_SIZE")
                     * os.sysconf("SC_PHYS_PAGES")) / 2**30
    except (ValueError, OSError, AttributeError):
        return "2g"
    return f"{max(2, min(16, int(total_gib // 8)))}g"


DEFAULT_DRIVER_MEMORY = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                         or _default_driver_memory())


def get_spark(
    app_name: str = "firebolt-cdc-lambda-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # deterministic cross-engine comparisons (DuckDB oracle is tz-naive)
        .config("spark.sql.session.timeZone", "UTC")
        # must be set before the JVM launches — no-op on getOrCreate of
        # an already-running session
        .config("spark.driver.memory", DEFAULT_DRIVER_MEMORY)
        # runtime re-planning: skew joins, coalesced shuffles
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # Arrow for the (few) pandas-UDF paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Partition-directory listing switches from driver-side to a
        # distributed Spark job above this many paths.  The stock
        # default (32) is tuned for object stores; on this engine every
        # bucketed table root / bloom-words dataset has num_buckets
        # (64+) dirs, so EVERY such read paid a 64-task listing job
        # (~0.15 s of pure scheduling) for a listing the driver does in
        # microseconds on a filesystem.  256 keeps the engine's actual
        # local dir counts (64-256 buckets) driver-listed while a
        # production 16k-bucket table on S3 still gets the parallel
        # listing job exactly when it helps.  Env-overridable like the
        # other scale knobs (round 13).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                os.environ.get("SPARK_GRAFT_PAR_DISCOVERY", "256"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Every bucket-pruned read (a brace glob) makes FileStreamSink probe
    # the glob as a literal path for a streaming-sink log and WARN a
    # stack trace when it is not there; that miss is the normal case
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        log4j.Level.ERROR)
    return spark


#: The merge-sized pause of adaptive execution: merges, index probes and
#: metadata-sized collects pin every physical choice themselves, and
#: per-stage re-planning only multiplies their scheduled jobs.
AQE_OFF = {"spark.sql.adaptive.enabled": "false"}

# Temporary overrides toggle the SESSION-global conf — under fleet mode,
# many tables' foreachBatch merges run concurrently on one shared
# session, and naive set/restore races: scope B can capture the value
# set by in-flight scope A as its restore value and leave it set for the
# whole session.  Refcount instead, per (session, key): the first scope
# in captures the true prior value and sets; the last scope out restores
# it.  (Analytic queries running concurrently with a merge lose AQE for
# that window — a bounded perf effect, never a correctness one.)
#
# Per-query scoping via spark.newSession() (an isolated SQLConf on the
# shared context) was considered and REJECTED: the staging DataFrame is
# created by the CALLER's session — under streaming it is the
# foreachBatch micro-batch DF, whose plan is bound to that session and
# its state — and re-binding or re-materializing it on a clone session
# is either unsupported (streaming sources) or costs an extra write.
# Revisit only if Spark grows true per-query conf scoping.
_CONF_LOCK = threading.Lock()
# (id(session), key) -> [depth, value set, prior value or None if unset]
_CONF_HELD: dict[tuple[int, str], list] = {}


@contextlib.contextmanager
def conf_scope(spark: SparkSession, **conf: str):
    """Override session conf keys for the duration of the block, e.g.
    ``with conf_scope(spark, **AQE_OFF):``.  Overlapping scopes on one
    key share the override: the first one in reads the prior value and
    sets the key, the last one out restores the prior value, or unsets
    the key if it had no explicit value.  Overlapping scopes must ask
    for the same value — a conflicting one raises ValueError."""
    entered: list[str] = []
    try:
        with _CONF_LOCK:
            for key, value in conf.items():
                held = _CONF_HELD.get((id(spark), key))
                if held is None:
                    prior = spark.conf.get(key, None)
                    spark.conf.set(key, value)
                    _CONF_HELD[(id(spark), key)] = [1, value, prior]
                elif held[1] != value:
                    raise ValueError(f"conf_scope: {key} is held at "
                                     f"{held[1]!r}, not {value!r}")
                else:
                    held[0] += 1
                entered.append(key)
        yield
    finally:
        with _CONF_LOCK:
            for key in reversed(entered):
                held = _CONF_HELD[(id(spark), key)]
                held[0] -= 1
                if held[0] == 0:
                    del _CONF_HELD[(id(spark), key)]
                    if held[2] is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, held[2])
