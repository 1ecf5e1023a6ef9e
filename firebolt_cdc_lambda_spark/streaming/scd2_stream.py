"""Streaming SCD2 maintenance: the dimension-history twin of
CdcStream.

Same source discipline as cdc_stream.py (file-source stream over the
``fair/<table>/YYYY/MM/DD`` layout, per-file micro-batches, LOAD*
full-load files excluded, exactly-once from the checkpoint), but each
micro-batch folds into a persistent :class:`~..operators.scd2.Scd2Table`
instead of a latest-row KeyedTable — the warehouse gets the full
``[valid_from, valid_to)`` history instead of (or alongside) the
current snapshot.

Ordering contract: file batches must arrive time-ordered per key (the
date-partitioned layout delivers this; it is the same assumption the
version-gated merge makes).  A REPLAYED batch is a no-op twice over —
the checkpoint skips the file, and even a forced re-process drops
every row at the stale gate (test_scd2's idempotency pin).  A
genuinely out-of-order older row is DROPPED by that same gate, exactly
like the version-gated merge drops stale updates; feed historical
backfills through ``Scd2Table.init`` (full rebuild), not the stream.

Within-file ordering: the stream stamps the file-local
``ingestion_seq`` (parquet row order = binlog order, the reference's
CRITICAL invariant — cdc_stream.py stamps it for the same reason) and
REQUIRES the table's last order column to be ``ingestion_seq``, so two
same-key changes with equal event-time columns in one file fold
deterministically.  Deletes: construct the ``Scd2Table`` with
``op_col`` so delete events close intervals instead of silently
folding as attribute updates (the Op column is passed through).

Cost per trigger: O(batch + touched buckets) — the same locality bound
as the merge stream (apply reads and rewrites only the buckets the
batch's keys hash into).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.scd2 import Scd2Table
from ..sources.ingest import with_ingestion_seq


class Scd2Stream:
    """Continuous SCD2 history maintenance for one table directory."""

    def __init__(self, table: Scd2Table, source_dir: str,
                 checkpoint_dir: str,
                 schema: T.StructType | None = None,
                 max_files_per_trigger: int | None = 1):
        if table.order[-1] != "ingestion_seq":
            raise ValueError(
                "Scd2Stream requires the table's final order column to "
                "be 'ingestion_seq' (the stream stamps it per file; "
                f"got order={table.order!r})")
        self.table = table
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger

    def _resolve_schema(self, spark: SparkSession) -> T.StructType:
        if self.schema is not None:
            return self.schema
        return (spark.read
                .option("recursiveFileLookup", "true")
                .option("pathGlobFilter", "*.parquet")
                .parquet(self.source_dir).schema)

    def _foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        cols = [*self.table.keys, *self.table.order, *self.table.tracked]
        if self.table.op_col:
            cols.append(self.table.op_col)
        # ingestion_seq is already stamped on the stream (see start)
        batch = batch_df.select(*cols)
        # has_data(), not a bare dir-exists check: a directory with no
        # committed bucket dir routed to apply() would wedge the stream
        # on an uninferrable empty read; init's swap replaces it.
        if self.table.has_data():
            self.table.apply(batch)
        else:
            self.table.init(batch)

    def start(self, spark: SparkSession, available_now: bool = True):
        reader = (spark.readStream
                  .schema(self._resolve_schema(spark))
                  .option("recursiveFileLookup", "true")
                  .option("pathGlobFilter", "*.parquet"))
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   str(self.max_files_per_trigger))
        # stamped on the file source: _metadata.row_index does not
        # resolve on a foreachBatch micro-batch
        stream = with_ingestion_seq(reader.parquet(self.source_dir))
        # leaf-segment LOAD* exclusion — same rationale as cdc_stream.py
        stream = stream.where(
            ~F.input_file_name().rlike("/LOAD[^/]*(/[^/]+)?$"))
        writer = (stream.writeStream
                  .foreachBatch(self._foreach_batch)
                  .option("checkpointLocation", self.checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, spark: SparkSession,
                          timeout_sec: int = 600) -> None:
        q = self.start(spark, available_now=True)
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()
