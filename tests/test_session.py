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
