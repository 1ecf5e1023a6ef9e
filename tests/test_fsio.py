"""The ``fsio`` directory swap under every crash state, and guards that
keep overwrite modes, directory renames and the absent-dataset
whitelist on their ``fsio`` helpers."""

import os
import pathlib
import shutil

import pytest

import firebolt_cdc_lambda_spark
from firebolt_cdc_lambda_spark import fsio


def test_dynamic_overwrites_and_read_errors_only_through_fsio():
    """fsio.py is the one file that names an overwrite mode.  A partition
    overwrite set by hand can forget to drop the partitions it emptied
    (``fsio.overwrite_partitions``), and a full rebuild overwriting in
    place loses the old store when it crashes mid-job; it writes a
    fresh dir through ``fsio.replace_dir`` in the default mode.  The
    session keeps Spark's default mode, so no write leans on it.  A
    ``getErrorClass()`` call is the deprecated spelling of the
    read-error condition (``fsio.is_absent``)."""
    import re
    overwrite = re.compile(r"partitionOverwriteMode|"
                           r"""mode\(\s*["']overwrite["']""", re.I)
    pkg = pathlib.Path(firebolt_cdc_lambda_spark.__file__).parent
    stray = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "fsio.py":
            continue
        for n, line in enumerate(f.read_text().splitlines(), 1):
            if overwrite.search(line) or "getErrorClass(" in line:
                stray.append(f"{rel}:{n}: {line.strip()}")
    assert stray == []


def test_directory_renames_only_through_fsio():
    """A hand-written rename is a hand-written swap or drop: every
    whole-directory replace commits through ``fsio.replace_dir`` and
    every drop through ``fsio.drop_dir``, whose crash states
    ``fsio.recover_dir`` knows.  The one exemption is the per-file
    ``_add`` of ``KeyedTable._recover_compact``: compaction swaps
    files, not directories, and rolls its intent forward."""
    pkg = pathlib.Path(firebolt_cdc_lambda_spark.__file__).parent
    stray = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "fsio.py":
            continue
        defs = []
        for n, line in enumerate(f.read_text().splitlines(), 1):
            if line.lstrip().startswith("def "):
                defs.append(line.split("def ", 1)[1].split("(", 1)[0])
            if ".rename(" in line and not (
                    rel == "operators/merge.py"
                    and defs[-2:] == ["_recover_compact", "_add"]):
                stray.append(f"{rel}:{n}: {line.strip()}")
    assert stray == []


def _put(spark, d, text):
    fsio.write_text(spark, f"{d}/v.txt", text)


def _get(spark, d):
    return fsio.read_text(spark, f"{d}/v.txt")


def test_replace_dir_crash_states(spark, tmp_path):
    """Every crash point of the swap reads as the old or the new state:
    A (only ``__old``: between the renames) promotes the backup, B
    (both: before the backup delete) keeps the new dir and deletes the
    backup, and a ``__dropping`` leftover is deleted."""
    p = str(tmp_path / "d")
    old, tmp, dropping = p + "__old", p + "__tmp", p + "__dropping"
    fsio.replace_dir(spark, p, lambda t: _put(spark, t, "v1"))
    assert _get(spark, p) == "v1"
    fsio.replace_dir(spark, p, lambda t: _put(spark, t, "v2"))
    assert _get(spark, p) == "v2"
    assert not any(map(os.path.exists, (old, tmp, dropping)))
    # the callback may read the dir it replaces
    fsio.replace_dir(spark, p, lambda t: _put(spark, t, _get(spark, p) + "+"))
    assert _get(spark, p) == "v2+"

    # A: only the backup holds the committed state
    shutil.move(p, old)
    assert fsio.recover_dir(spark, p) is True
    assert _get(spark, p) == "v2+" and not os.path.exists(old)
    # B: the new dir won, the backup is a leftover
    shutil.copytree(p, old)
    _put(spark, old, "stale")
    assert fsio.recover_dir(spark, p) is False
    assert _get(spark, p) == "v2+" and not os.path.exists(old)
    # a crashed drop's leftover is never read, and is deleted
    shutil.copytree(p, dropping)
    assert fsio.recover_dir(spark, p) is False
    assert not os.path.exists(dropping) and _get(spark, p) == "v2+"

    # a swap over state A and a stale __tmp starts from the backup
    shutil.move(p, old)
    os.makedirs(tmp)
    _put(spark, tmp, "garbage")
    fsio.replace_dir(spark, p, lambda t: _put(spark, t, "v3"))
    assert _get(spark, p) == "v3"
    assert not any(map(os.path.exists, (old, tmp, dropping)))


def test_drop_dir_removes_the_backup_first(spark, tmp_path):
    """A dropped dir stays dropped: its backup goes with it (recovery
    would promote a surviving ``__old`` over the drop), and a crash
    after the rename leaves only a ``__dropping`` leftover."""
    p = str(tmp_path / "d")
    fsio.replace_dir(spark, p, lambda t: _put(spark, t, "v1"))
    shutil.copytree(p, p + "__old")
    shutil.copytree(p, p + "__dropping")
    fsio.drop_dir(spark, p)
    assert not any(os.path.exists(p + s)
                   for s in ("", "__old", "__dropping"))
    assert fsio.recover_dir(spark, p) is False
    assert not os.path.exists(p)
    fsio.drop_dir(spark, p)              # dropping nothing is a no-op


def test_failed_rename_raises(spark, tmp_path, monkeypatch):
    """Hadoop reports some rename failures by returning false; the swap
    must raise instead of deleting the backup of a swap that never
    happened."""
    p = str(tmp_path / "d")
    fsio.replace_dir(spark, p, lambda t: _put(spark, t, "v1"))

    class NoRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = fsio.fs_and_path
    monkeypatch.setattr(fsio, "fs_and_path", lambda spark, q: (
        NoRename(real(spark, q)[0]), *real(spark, q)[1:]))
    with pytest.raises(OSError, match="could not rename"):
        fsio.replace_dir(spark, p, lambda t: _put(spark, t, "v2"))
    monkeypatch.undo()
    assert _get(spark, p) == "v1"


def test_replace_text_swaps_the_file_whole(spark, tmp_path):
    """The replace leaves the new text, its checksum (a stale one would
    fail the checksummed read) and no temp file behind."""
    p = str(tmp_path / "_s.json")
    fsio.replace_text(spark, p, "one")
    fsio.replace_text(spark, p, "two, longer")
    assert fsio.read_text(spark, p) == "two, longer"
    assert sorted(os.listdir(tmp_path)) == ["._s.json.crc", "_s.json"]


def test_crashed_sidecar_replace_keeps_the_old_schema(spark, tmp_path):
    """A crash inside a sidecar replace leaves at most the temp file,
    torn: the table still reads its old schema, the catalog still
    lists it, and the next sidecar write (an ADD COLUMN) succeeds."""
    from pyspark.sql import types as T

    from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
    from firebolt_cdc_lambda_spark.sources import catalog
    wh = tmp_path / "wh"
    kt = KeyedTable(spark, str(wh / "t"), ["id"], num_buckets=4)
    kt.init(spark.range(10).selectExpr("id", "'x' AS v"))
    text = kt._read_sidecar("_schema.json")
    tmp = wh / "t" / "._schema.json.tmp"
    tmp.write_text(text[:len(text) // 2])
    fresh = KeyedTable(spark, str(wh / "t"), [])
    assert fresh.read().columns == ["id", "v"]
    assert fresh.read().count() == 10
    assert catalog.list_tables(str(wh), spark) == ["t"]
    fresh.add_columns([("e", T.StringType())])
    assert not tmp.exists()
    assert KeyedTable(spark, str(wh / "t"), []).read().columns == [
        "id", "v", "e"]
