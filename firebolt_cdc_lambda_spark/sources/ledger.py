"""File-processing ledger — observability analogue of ``cdc_processed_files``.

The reference uses a metadata table for file-level exactly-once
(lambda/handler.py:664-703: check before work, INSERT
completed/failed after; statuses 'completed'/'batch_processed'/'failed').
In the Spark engine, exactly-once is the Structured Streaming file-source
checkpoint's job; this ledger is kept for *observability and batch-mode
idempotency* (re-running a batch reload skips completed files), plus the
probabilistic 30-day GC (AUTOMATIC_CLEANUP.md:10-63).

Two layouts (round 12):

* **flat** (default) — loose parquet files, one appended per record;
  GC and ``forget`` rewrite the whole ledger via ``fsio.replace_dir``.
  Right for the reference's scale (~300k rows steady state).
* **day-partitioned** (``partition_by_day=True``) — rows land under
  ``_pday=YYYYMMDD`` dirs keyed by ``processed_at``.  GC becomes a pure
  DIRECTORY DROP (no Spark job, no rewrite: whole expired days are
  deleted — retention granularity is the day, so a row can outlive its
  cutoff by up to one day), and ``forget`` rewrites ONLY the day dirs
  containing dropped rows.  At 10k files/day x years of history this
  turns the O(all-rows) maintenance rewrites into O(touched days).
  A flat ledger handed ``partition_by_day=True`` migrates itself on
  the first write (one O(rows) swap, after which maintenance is
  day-scoped forever).
"""

from __future__ import annotations

import datetime as _dt
import random

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsio

LEDGER_SCHEMA = T.StructType([
    T.StructField("file_key", T.StringType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("error_message", T.StringType(), True),
    T.StructField("processed_at", T.TimestampType(), False),
])

COMPLETED_STATUSES = ("completed", "batch_processed")

#: day-partition column (partition_by_day layout); derived from
#: processed_at, never stored inside the data files
PDAY_COL = "_pday"

_PDAY_FMT = "yyyyMMdd"


class FileLedger:
    def __init__(self, spark: SparkSession, path: str,
                 cleanup_probability: float = 0.01, days_to_keep: int = 30,
                 partition_by_day: bool = False):
        self.spark = spark
        self.path = path
        self.cleanup_probability = cleanup_probability
        self.days_to_keep = days_to_keep
        self.partition_by_day = partition_by_day

    # -- filesystem helpers -------------------------------------------------
    def _root_names(self) -> list[str]:
        return fsio.list_names(self.spark, self.path)

    def _recover_days(self, names: list[str]) -> None:
        """Finish crashed per-day swaps of ``forget`` (``_read`` hides a
        day's swap siblings, so until then that day reads as absent)."""
        for n in names:
            if n.startswith(f"{PDAY_COL}=") and n.endswith("__old"):
                fsio.recover_dir(self.spark,
                                 f"{self.path}/{n.removesuffix('__old')}")

    def _flat_data_files(self) -> list[str]:
        return [n for n in self._root_names()
                if n.endswith(".parquet") and not n.startswith("_")]

    def _maybe_migrate(self) -> None:
        """One-time flat → day-partitioned migration (first write under
        partition_by_day on a ledger with loose root files).  Spark's
        partition discovery rejects a MIXED layout (loose files beside
        ``_pday=`` dirs), so the append below must never create one."""
        if not self._flat_data_files():
            return
        flat = self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        self._rewrite_kept(flat)

    # -- reads ---------------------------------------------------------------
    def _read(self, with_pday: bool = False):
        from pyspark.errors import AnalysisException
        schema = LEDGER_SCHEMA
        if self.partition_by_day:
            schema = T.StructType(
                list(LEDGER_SCHEMA.fields)
                + [T.StructField(PDAY_COL, T.StringType())])
        reader = self.spark.read.schema(schema).option("basePath", self.path)
        try:
            df = reader.parquet(self.path)
        except AnalysisException as exc:
            # only an absent ledger with no swap backup to promote is
            # "empty"; a real read error re-raises (reading it as empty
            # would answer is_processed=False and replay files —
            # harmless only because merges are idempotent, but the
            # error belongs to the caller).  Same contract as
            # KeyedTable._read_raw.
            if not fsio.is_absent(exc):
                raise
            df = (reader.parquet(self.path)
                  if fsio.recover_dir(self.spark, self.path)
                  else self.spark.createDataFrame([], schema))
        if self.partition_by_day:
            # a day swap's siblings (_pday=D__tmp, __old, __dropping)
            # are not days; the partition filter prunes their files.
            # Null: loose flat files a partitioned handle has not
            # migrated yet.
            day = F.col(PDAY_COL)
            df = df.where(day.isNull() | ~day.contains("__"))
            if not with_pday:
                df = df.drop(PDAY_COL)
        return df

    def _rewrite_kept(self, kept) -> None:
        """Replace the ledger with ``kept`` through ``fsio.replace_dir``
        (the ``KeyedTable.rewrite`` shape).  The old cache→count→
        overwrite-in-place pattern could lose the ENTIRE ledger if an
        executor was lost mid-overwrite (recomputation re-reads source
        files the overwrite already deleted); the swap leaves the
        source files in place until the survivors are written, and
        every crash point reads as the old or the new ledger.  Under
        partition_by_day the survivors are re-laid-out into ``_pday=``
        dirs (this is also the one-time flat→partitioned migration
        path)."""
        kept = kept.select(*[f.name for f in LEDGER_SCHEMA.fields])
        w = kept.write.mode("overwrite")
        if self.partition_by_day:
            w = (kept.withColumn(PDAY_COL, F.date_format(
                    "processed_at", _PDAY_FMT))
                 .write.mode("overwrite").partitionBy(PDAY_COL))
        fsio.replace_dir(self.spark, self.path, w.parquet)

    # -- the reference surface ------------------------------------------------
    def is_processed(self, file_key: str) -> bool:
        """Idempotency check (lambda/handler.py:664-675): completed or
        batch_processed ⇒ skip."""
        return bool(
            self._read()
            .where((F.col("file_key") == file_key)
                   & F.col("status").isin(*COMPLETED_STATUSES))
            .limit(1)
            .take(1)
        )

    def record(self, file_key: str, status: str,
               error_message: str | None = None,
               processed_at: _dt.datetime | None = None) -> None:
        """Append one ledger row (lambda/handler.py:679-703).  Error text
        truncated to 500 chars like the reference (:694) — no quote
        escaping needed, writes are parameterized by construction.
        ``processed_at`` defaults to now (UTC); explicit values exist
        for backfill tooling and tests."""
        if error_message:
            error_message = error_message[:500]
        if processed_at is None:
            processed_at = _dt.datetime.now(
                _dt.timezone.utc).replace(tzinfo=None)
        row = Row(file_key=file_key, status=status,
                  error_message=error_message, processed_at=processed_at)
        df = self.spark.createDataFrame([row], LEDGER_SCHEMA)
        if self.partition_by_day:
            self._maybe_migrate()
            (df.withColumn(PDAY_COL,
                           F.date_format("processed_at", _PDAY_FMT))
             .write.mode("append").partitionBy(PDAY_COL)
             .parquet(self.path))
        else:
            df.write.mode("append").parquet(self.path)
        self.maybe_cleanup()

    def forget(self, file_keys=None, prefix: str | None = None) -> int:
        """Incident tool: UN-mark files so they re-process — the ledger
        half of a rollback (``KeyedTable.restore`` re-points the table;
        this re-opens the window so ``process_file`` re-lands the
        corrected files instead of answering ``already_processed``).
        Drops every row — any status — for the explicit ``file_keys``
        and/or every key under ``prefix`` (the natural incident shape:
        one bad day-dir, e.g. ``fair/orders/2024/01/05/``).  Returns
        the number of rows dropped; 0 skips the rewrite entirely.

        Flat layout: one ``fsio.replace_dir`` of the survivors.  Day-
        partitioned layout: ONLY the ``_pday=`` dirs containing dropped
        rows are rewritten (per-day ``replace_dir``; a fully-forgotten
        day's dir goes through ``drop_dir``) — the incident's cost is
        O(touched days), not O(ledger)."""
        if file_keys is None and prefix is None:
            raise ValueError(
                "forget() needs file_keys and/or prefix (to drop the "
                "WHOLE ledger, delete its directory)")
        if isinstance(file_keys, str):
            # the natural incident call passes ONE key (process_file
            # takes a single str); list("one/path") would silently
            # explode it into per-character keys matching nothing
            file_keys = [file_keys]
        if prefix == "":
            # every key startswith("") — the whole-ledger drop the
            # error above routes to an explicit directory delete
            raise ValueError("empty prefix would forget EVERY file; "
                             "to drop the whole ledger, delete its "
                             "directory")
        drop = F.lit(False)
        if file_keys is not None:
            drop = drop | F.col("file_key").isin(list(file_keys))
        if prefix is not None:
            drop = drop | F.col("file_key").startswith(prefix)
        if not self.partition_by_day:
            df = self._read()
            n = df.where(drop).count()
            if n == 0:
                return 0
            self._rewrite_kept(df.where(~drop))
            return n
        if self._flat_data_files():
            # pre-migration flat ledger under a partitioned handle:
            # migrate first so the day-scoped path below is sound
            self._maybe_migrate()
        self._recover_days(self._root_names())
        df = self._read(with_pday=True)
        dropped = df.where(drop)
        n = dropped.count()
        if n == 0:
            return 0
        # the incident is day-scoped by construction (one bad window),
        # so the distinct-day collect is metadata-bounded
        days = sorted(r[0] for r in
                      dropped.select(PDAY_COL).distinct().collect()
                      if r[0] is not None)
        for day in days:
            daydir = f"{self.path}/{PDAY_COL}={day}"
            kept_day = (df.where(F.col(PDAY_COL) == day).where(~drop)
                        .select(*[f.name for f in LEDGER_SCHEMA.fields]))
            if kept_day.limit(1).isEmpty():
                fsio.drop_dir(self.spark, daydir)
            else:
                fsio.replace_dir(self.spark, daydir,
                                 kept_day.write.mode("overwrite").parquet)
        return n

    def maybe_cleanup(self, force: bool = False) -> None:
        """Probabilistic GC: with p=1% drop entries older than 30 days
        (AUTOMATIC_CLEANUP.md:10-63).  Day-partitioned layout: expired
        WHOLE-DAY dirs are deleted directly — no Spark job, no rewrite
        (a row can outlive its cutoff by up to one day; retention
        granularity is the day)."""
        if not force and random.random() >= self.cleanup_probability:
            return
        cutoff = _dt.datetime.now(_dt.timezone.utc).replace(
            tzinfo=None) - _dt.timedelta(days=self.days_to_keep)
        if self.partition_by_day and not self._flat_data_files():
            cutoff_day = cutoff.strftime("%Y%m%d")
            pfx = f"{PDAY_COL}="
            names = self._root_names()
            self._recover_days(names)
            for name in names:
                if name.startswith(pfx) and name[len(pfx):] < cutoff_day:
                    fsio.drop_dir(self.spark, f"{self.path}/{name}")
            return
        self._rewrite_kept(
            self._read().where(F.col("processed_at") >= F.lit(cutoff)))
