"""File-processing ledger — observability analogue of ``cdc_processed_files``.

The reference uses a metadata table for file-level exactly-once
(lambda/handler.py:664-703: check before work, INSERT
completed/failed after; statuses 'completed'/'batch_processed'/'failed').
In the Spark engine, exactly-once is the Structured Streaming file-source
checkpoint's job; this ledger is kept for *observability and batch-mode
idempotency* (re-running a batch reload skips completed files), plus the
probabilistic 30-day GC (AUTOMATIC_CLEANUP.md:10-63).

One layout of small files, written and read by the driver through
``fsio`` (the Hadoop FS, so ``file://`` and ``s3a://`` roots work) and
never by a Spark job — the shape of Structured Streaming's offset and
commit logs::

    path/_pday=YYYYMMDD/<sha256 hex of file_key>/
        <unique>.json   one entry per record: file_key, status,
                        error_message, processed_at
        _completed      marker, written after a completed entry

The day is the record's ``processed_at`` day.  ``is_processed`` is one
glob for the key's markers; GC drops whole expired days (retention
granularity is the day, so an entry can outlive its cutoff by up to
one day, and a key completed again on a later day stays processed);
``forget`` drops the key's directories.  A name holding ``__`` is a
``drop_dir`` sibling and is never read.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import random
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import fsio

COMPLETED_STATUSES = ("completed", "batch_processed")

#: prefix of the day directories, ``_pday=YYYYMMDD``
PDAY_COL = "_pday"

_MARKER = "_completed"


def _key_dir_name(file_key: str) -> str:
    return hashlib.sha256(file_key.encode("utf-8")).hexdigest()


class FileLedger:
    def __init__(self, spark: SparkSession, path: str,
                 cleanup_probability: float = 0.01, days_to_keep: int = 30):
        self.spark = spark
        self.path = path
        self.cleanup_probability = cleanup_probability
        self.days_to_keep = days_to_keep

    # -- the reference surface ------------------------------------------------
    def is_processed(self, file_key: str) -> bool:
        """Idempotency check (lambda/handler.py:664-675): completed or
        batch_processed ⇒ skip.  One glob for the key's markers."""
        hits = fsio.glob(self.spark, f"{self.path}/{PDAY_COL}=*/"
                                     f"{_key_dir_name(file_key)}/{_MARKER}")
        return any("__" not in p.rsplit("/", 3)[1] for p in hits)

    def record(self, file_key: str, status: str,
               error_message: str | None = None,
               processed_at: _dt.datetime | None = None) -> None:
        """Write one ledger entry (lambda/handler.py:679-703).  Error text
        truncated to 500 chars like the reference (:694).  The entry
        lands before the marker, so a crash in between leaves the file
        unprocessed and its replay an idempotent no-op.
        ``processed_at`` defaults to now (UTC); explicit values exist
        for backfill tooling and tests."""
        if error_message:
            error_message = error_message[:500]
        if processed_at is None:
            processed_at = _dt.datetime.now(
                _dt.timezone.utc).replace(tzinfo=None)
        key_dir = (f"{self.path}/{PDAY_COL}={processed_at:%Y%m%d}/"
                   f"{_key_dir_name(file_key)}")
        entry = json.dumps({"file_key": file_key, "status": status,
                            "error_message": error_message,
                            "processed_at": processed_at.isoformat()})
        fsio.write_text(self.spark, f"{key_dir}/{uuid.uuid4().hex}.json",
                        entry)
        if status in COMPLETED_STATUSES:
            fsio.write_text(self.spark, f"{key_dir}/{_MARKER}", "")
        self.maybe_cleanup()

    def forget(self, file_keys=None, prefix: str | None = None) -> int:
        """Incident tool: UN-mark files so they re-process — the ledger
        half of a rollback (``KeyedTable.restore`` re-points the table;
        this re-opens the window so ``process_file`` re-lands the
        corrected files instead of answering ``already_processed``).
        Drops every entry — any status — for the explicit ``file_keys``
        and/or every key under ``prefix`` (the natural incident shape:
        one bad day-dir, e.g. ``fair/orders/2024/01/05/``).  Returns
        the number of entries dropped.

        Each matching ``_pday=*/<h>`` directory goes through
        ``drop_dir``, which also clears a crashed drop's ``<h>__dropping``
        sibling, and a day left empty is dropped.  Keys under ``prefix``
        are found with one Spark JSON read of the entries."""
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
        keys = set(file_keys or ())
        if prefix is not None:
            keys.update(self._keys_under(prefix))
        names = {_key_dir_name(k) for k in keys}
        if not names:
            return 0
        dropped = 0
        days = set()
        # one listing of every key dir; a crashed drop's <h>__dropping
        # maps to its <h>, whose drop_dir clears it
        for p in fsio.glob(self.spark, f"{self.path}/{PDAY_COL}=*/*"):
            day, name = p.rsplit("/", 2)[1:]
            base = name.partition("__")[0]
            if base not in names or "__" in day:
                continue
            if base == name:
                dropped += sum(n.endswith(".json")
                               for n in fsio.list_names(self.spark, p))
            fsio.drop_dir(self.spark, f"{self.path}/{day}/{base}")
            days.add(f"{self.path}/{day}")
        for day in days:
            if not fsio.list_names(self.spark, day):
                fsio.drop_dir(self.spark, day)
        return dropped

    def _keys_under(self, prefix: str) -> list[str]:
        from pyspark.errors import AnalysisException
        try:
            entries = self.spark.read.schema("file_key STRING").json(
                f"{self.path}/{PDAY_COL}=*/*/*.json")
        except AnalysisException as exc:
            if not fsio.is_absent(exc):
                raise
            return []
        return [r[0] for r in entries
                .where(F.col("file_key").startswith(prefix))
                .distinct().collect()]

    def maybe_cleanup(self, force: bool = False) -> None:
        """Probabilistic GC: with p=1% drop entries older than 30 days
        (AUTOMATIC_CLEANUP.md:10-63).  Expired WHOLE-DAY dirs are
        deleted through ``drop_dir`` — no Spark job, no rewrite; a
        crashed drop's ``_pday=D__dropping`` sibling is cleared."""
        if not force and random.random() >= self.cleanup_probability:
            return
        cutoff_day = (_dt.datetime.now(_dt.timezone.utc)
                      - _dt.timedelta(days=self.days_to_keep)
                      ).strftime("%Y%m%d")
        pfx = f"{PDAY_COL}="
        for name in fsio.list_dirs(self.spark, self.path):
            if not name.startswith(pfx):
                continue
            day = name[len(pfx):].partition("__")[0]
            if day < cutoff_day:
                fsio.drop_dir(self.spark, f"{self.path}/{pfx}{day}")
            elif "__" in name:
                fsio.recover_dir(self.spark, f"{self.path}/{pfx}{day}")
