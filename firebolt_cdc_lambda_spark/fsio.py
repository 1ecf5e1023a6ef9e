"""Hadoop-FileSystem text I/O for driver-side metadata documents.

Every metadata sidecar in this repo (KeyedTable schema/meta, drift
snapshots, drift reports, config backups) must work when the warehouse
root is an object store (s3a://, abfs://, hdfs://) exactly as it does on
a local path — the reference keeps the analogous schema metadata in S3
(lambda_schema_evolution_integration.py:32-68).  These helpers are the
one place that touches the JVM FileSystem API for that.

Driver-side by design: the documents are tiny (KBs) and read/written
once per batch, never per row.

The same goes for the schema pins below: the schemas of parquet
datasets this process reads repeatedly (corpus tables, index stores,
zone maps, the delete-vector sidecar), kept so that a read passes the
schema explicitly instead of paying a footer-inference job.

The module is the one place that names an overwrite mode.  It holds the
dynamic partition overwrite every bucket or index refresh commits
through (``overwrite_partitions``), the crash-safe whole-directory swap
every full rebuild and re-init commits through (``replace_dir``: a fresh
dir, so no mode applies) and drop (``drop_dir``, ``recover_dir``), the
one crash-safe file replace (``replace_text``) and the read-error
whitelist that tells an absent dataset from a fault (``is_absent``).
"""

from __future__ import annotations

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def fs_and_path(spark: SparkSession, p: str):
    """(FileSystem, Path, jvm) for ``p`` under the session's Hadoop conf."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(p)
    return path.getFileSystem(hconf), path, jvm


def exists(spark: SparkSession, p: str) -> bool:
    fs, path, _ = fs_and_path(spark, p)
    return fs.exists(path)


def mkdirs(spark: SparkSession, p: str) -> None:
    fs, path, _ = fs_and_path(spark, p)
    fs.mkdirs(path)


def is_absent(exc: PySparkException) -> bool:
    """True iff a read error means "nothing there": the path matches
    nothing (PATH_NOT_FOUND) or its dirs hold no files to infer a
    schema from (UNABLE_TO_INFER_SCHEMA, e.g. an aborted first write).
    Every other read error belongs to the caller and must re-raise."""
    return exc.getCondition() in ("PATH_NOT_FOUND",
                                  "UNABLE_TO_INFER_SCHEMA")


def overwrite_partitions(df: DataFrame, root: str, col: str,
                         emptied=(), num_partitions: int | None = None
                         ) -> None:
    """Replace the ``col=`` partitions of ``root`` that ``df`` holds and
    delete ``root/col=v`` for every ``v`` in ``emptied``.

    The write is a DYNAMIC partition overwrite, set per write: under
    Spark's STATIC default, which the engine's session keeps, the same
    write would wipe every partition ``df`` does not hold.  A partition
    whose every row went away is absent from ``df``, so the overwrite leaves its old files;
    the caller names those in ``emptied``.  ``df`` is shuffled on
    ``col`` (one file per partition) into ``num_partitions`` tasks, or
    the session's shuffle partitions.  A ``df`` that reads ``root``
    must be pinned by the caller, and its ``emptied`` set computed,
    before this call: the commit deletes the files it was read from."""
    parts = (df.repartition(num_partitions, col) if num_partitions
             else df.repartition(col))
    (parts.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(col).parquet(root))
    if emptied:
        fs, base, jvm = fs_and_path(df.sparkSession, root)
        for v in emptied:
            p = jvm.org.apache.hadoop.fs.Path(base, f"{col}={v}")
            if fs.exists(p):
                fs.delete(p, True)


#: suffixes of the sibling dirs a swap or drop of ``path`` passes
#: through; never a dataset of their own (catalog listings skip them)
SWAP_SUFFIXES = ("__tmp", "__old", "__dropping")


def recover_dir(spark: SparkSession, p: str) -> bool:
    """Finish a crashed ``replace_dir``/``drop_dir`` of ``p``; True iff
    it promoted the backup.  Only ``p__old`` beside no ``p`` (a crash
    between the swap's two renames) holds the committed state, so it
    is renamed back; ``p__old`` beside ``p`` (a crash before the backup
    delete) and a ``p__dropping`` are leftovers.  It costs FS probes:
    run it where ``p`` was found absent, before a swap, or in an index
    handle's constructor, never on the hot path."""
    fs, path, jvm = fs_and_path(spark, p)
    old = jvm.org.apache.hadoop.fs.Path(f"{p}__old")
    promoted = False
    if fs.exists(old):
        if fs.exists(path):
            fs.delete(old, True)
        else:
            _rename(fs, old, path)
            promoted = True
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{p}__dropping"), True)
    return promoted


def replace_dir(spark: SparkSession, p: str, write) -> None:
    """Replace directory ``p`` with what ``write(tmp)`` writes to the
    empty sibling ``p__tmp`` — the complete new content, in-dir
    sidecars included.  The old ``p`` is renamed to ``p__old`` before
    the new one is renamed in and deleted only after, so every crash
    point leaves the old or the new state whole: ``recover_dir``
    promotes the backup of a crash between the renames.  ``write`` may
    read ``p``: its files stay in place until the swap."""
    recover_dir(spark, p)
    fs, path, jvm = fs_and_path(spark, p)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{p}__tmp")
    fs.delete(tmp, True)
    write(f"{p}__tmp")
    old = jvm.org.apache.hadoop.fs.Path(f"{p}__old")
    if fs.exists(path):
        _rename(fs, path, old)
    _rename(fs, tmp, path)
    fs.delete(old, True)


def drop_dir(spark: SparkSession, p: str) -> None:
    """Delete directory ``p`` in one rename: ``p`` becomes
    ``p__dropping`` (never read) before the recursive delete, so a
    crash mid-delete cannot leave a partial ``p`` behind.  A backup
    ``p__old`` goes first: left behind, ``recover_dir`` would promote
    it over the dropped ``p``."""
    fs, path, jvm = fs_and_path(spark, p)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{p}__old"), True)
    dropping = jvm.org.apache.hadoop.fs.Path(f"{p}__dropping")
    fs.delete(dropping, True)
    if fs.exists(path):
        _rename(fs, path, dropping)
        fs.delete(dropping, True)


def _rename(fs, src, dst) -> None:
    # Hadoop reports several rename failures by RETURNING false (the
    # HDFS posture); going on would commit a swap that did not happen
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src} to {dst}")


def write_text(spark: SparkSession, p: str, text: str) -> None:
    fs, path, _ = fs_and_path(spark, p)
    out = fs.create(path, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def replace_text(spark: SparkSession, p: str, text: str) -> None:
    """Replace file ``p`` with ``text`` in one rename: the text goes to
    the hidden sibling ``.<name>.tmp`` first, which is then renamed
    over ``p`` (Hadoop ``FileContext`` rename with OVERWRITE, which
    moves a local file's checksum with it).  A crash leaves ``p`` old
    or new, never torn; a leftover temp is never read and the next
    replace overwrites it."""
    fs, path, jvm = fs_and_path(spark, p)
    hfs = jvm.org.apache.hadoop.fs
    tmp = hfs.Path(path.getParent(), f".{path.getName()}.tmp")
    write_text(spark, tmp.toString(), text)
    opts = spark.sparkContext._gateway.new_array(hfs.Options.Rename, 1)
    opts[0] = hfs.Options.Rename.OVERWRITE
    hfs.FileContext.getFileContext(
        path.toUri(), spark._jsc.hadoopConfiguration()).rename(
        tmp, path, opts)


def read_text(spark: SparkSession, p: str) -> str | None:
    """File contents, or None if the file does not exist."""
    fs, path, jvm = fs_and_path(spark, p)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return data.decode("utf-8")


def list_names(spark: SparkSession, p: str) -> list[str]:
    """Leaf names of a directory's children ([] if the dir is missing)."""
    fs, path, _ = fs_and_path(spark, p)
    if not fs.exists(path):
        return []
    return [st.getPath().getName() for st in fs.listStatus(path)]


def glob(spark: SparkSession, pattern: str) -> list[str]:
    """Qualified paths matching a Hadoop glob pattern ([] if none)."""
    fs, path, _ = fs_and_path(spark, pattern)
    return [st.getPath().toString() for st in fs.globStatus(path) or ()]


def list_dirs(spark: SparkSession, p: str) -> list[str]:
    """Leaf names of a directory's sub-DIRECTORIES ([] if missing)."""
    fs, path, _ = fs_and_path(spark, p)
    if not fs.exists(path):
        return []
    return [st.getPath().getName() for st in fs.listStatus(path)
            if st.isDirectory()]


#: Process-wide schema pins, keyed by dataset root path.  Every
#: in-process writer of a pinned root calls ``pin`` with the schema it
#: just wrote, or ``unpin`` when a rebuild may change the layout, so a
#: pin is invalidated per path — every handle on that path sees it.
_PINS: dict[str, StructType] = {}


def pin(root: str, schema: StructType) -> None:
    """Record ``schema`` as the layout of the parquet dataset at ``root``."""
    _PINS[root] = schema


def unpin(root: str) -> None:
    """Forget ``root``'s layout; the next ``read_pinned`` infers it."""
    _PINS.pop(root, None)


def read_pinned(spark: SparkSession, root: str, *paths: str,
                **options: str) -> DataFrame:
    """``spark.read.parquet`` of ``paths`` (default: ``root`` itself,
    else globs or sub-dirs under it) with ``root``'s pinned schema.  An
    unpinned root infers from the footers once and pins what it found.
    Errors of the read itself (absent path, nothing to infer from) reach
    the caller, which decides what an absent dataset means."""
    schema = _PINS.get(root)
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(*(paths or (root,)))
    if schema is None:
        _PINS[root] = df.schema
    return df
