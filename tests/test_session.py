"""conf_scope and the guard that keeps session-conf overrides on it."""

import pathlib

import pytest

import firebolt_cdc_lambda_spark
from firebolt_cdc_lambda_spark.session import AQE_OFF, conf_scope

#: the permanent session-wide sets load_table makes for the corpus
_PERMANENT_SETS = {
    "corpus/base.py": ("spark.sql.session.timeZone",
                       "spark.sql.legacy.parquet.nanosAsLong"),
}


def test_conf_overrides_only_through_conf_scope():
    """A direct ``conf.set``/``conf.unset`` outside session.py is a
    temporary override that skips the refcount: under fleet concurrency
    it can capture another scope's value as its prior and leave it set
    session-wide.  Only the two permanent corpus sets are exempt."""
    pkg = pathlib.Path(firebolt_cdc_lambda_spark.__file__).parent
    stray = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "session.py":
            continue
        for n, line in enumerate(f.read_text().splitlines(), 1):
            if "conf.set(" not in line and "conf.unset(" not in line:
                continue
            if "conf.set(" in line and any(
                    f'"{k}"' in line for k in _PERMANENT_SETS.get(rel, ())):
                continue
            stray.append(f"{rel}:{n}: {line.strip()}")
    assert stray == []


def test_overlapping_scopes_must_agree_on_the_value(spark):
    key, value = next(iter(AQE_OFF.items()))
    prior = spark.conf.get(key)
    with conf_scope(spark, **AQE_OFF):
        with pytest.raises(ValueError):
            with conf_scope(spark, **{key: "true"}):
                pass
        assert spark.conf.get(key) == value
    assert spark.conf.get(key) == prior


def test_concurrent_scopes_keep_the_override_and_restore_once(spark):
    """Threads entering and leaving one key's scope at random overlaps:
    inside every scope the override holds, and after the last one the
    session value is back — a lost refcount update breaks one or the
    other."""
    import sys
    import threading
    key, value = next(iter(AQE_OFF.items()))
    prior = spark.conf.get(key)
    seen: list[str] = []
    errors: list[BaseException] = []

    def worker():
        try:
            for _ in range(20):
                with conf_scope(spark, **AQE_OFF):
                    seen.append(spark.conf.get(key))
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(seen) == 8 * 20 and set(seen) == {value}
    assert spark.conf.get(key) == prior


def test_bucket_pruned_read_logs_no_sink_metadata_warning(tmp_path):
    """A bucket-pruned read names its buckets in a brace glob, which
    Spark's FileStreamSink probes as a literal path for a streaming-sink
    log.  The probe's miss is the normal case; the session logs it at
    ERROR only, so it no longer WARNs a stack trace per read.  Run in a
    fresh process: the JVM's stderr is not the test's."""
    import subprocess
    import sys
    import textwrap
    repo = pathlib.Path(firebolt_cdc_lambda_spark.__file__).parent.parent
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(repo)!r})
        from firebolt_cdc_lambda_spark.session import get_spark
        from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        kt = KeyedTable(spark, {str(tmp_path / "t")!r}, ["id"],
                        num_buckets=4)
        kt.init(spark.range(8))
        print(kt._read_raw(buckets=[0, 1]).count())
    """)
    run = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=300)
    assert run.returncode == 0, run.stderr
    assert 0 < int(run.stdout.split()[-1]) < 8
    assert "Assume no metadata directory" not in run.stderr
