"""Structured Streaming CDC: the reference's event-driven Lambda loop as
a file-source stream + foreachBatch merge.

Reference mechanism -> Spark mechanism (SURVEY §2.9):

* S3 ObjectCreated event per Parquet file (stacks/firebolt_cdc_stack.py:80-87)
  -> file-source stream over the table's directory;
  ``maxFilesPerTrigger=1`` reproduces exact per-file batches.
* ``cdc_processed_files`` ledger idempotency (lambda/handler.py:664-703)
  -> the streaming checkpoint: the file source records processed files,
  so restarts and re-delivered files are no-ops by construction.
* LOAD* full-load files skipped (lambda/handler.py:781-783)
  -> ``pathGlobFilter`` excludes them from the source.
* MVCC conflict retry saga (FIX_TRANSACTION_CONFLICTS.md:40-58)
  -> gone: foreachBatch serializes one writer per table.

Late data: within a batch the dedup cascade orders correctly; across
batches construct the pipeline with ``version_col='load_timestamp'``
(stored in the target so the gate can compare) to make stale replays
no-ops, plus ``tombstones=True`` so even DELETED keys gate stale late
writes — the batch-order-independent contract (SURVEY §7.4 decision;
test_tombstones proves the order-independence property).

Scale: each micro-batch's cost is O(batch + touched buckets) via the
bucketed KeyedTable; the stream sustains the reference's ~10k files/day
(AUTOMATIC_CLEANUP.md:68) trivially since batches execute in seconds and
``maxFilesPerTrigger`` can batch many files per trigger when behind.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipeline import CdcPipeline
from ..sources.ingest import with_ingestion_seq


class CdcStream:
    """Continuous CDC for one table directory."""

    def __init__(self, pipeline: CdcPipeline, table: str, keys: Sequence[str],
                 source_dir: str, checkpoint_dir: str,
                 schema: T.StructType | None = None,
                 max_files_per_trigger: int | None = 1):
        self.pipeline = pipeline
        self.table = table
        self.keys = list(keys)
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
        # ingestion_seq is already stamped on the stream (see start)
        self.pipeline.process_batch(self.table, self.keys, batch_df)

    def start(self, spark: SparkSession, available_now: bool = True):
        """Start the stream; ``available_now`` drains the backlog and
        stops (the batch-reload shape); False = continuous tail."""
        reader = (
            spark.readStream
            .schema(self._resolve_schema(spark))
            # recursive: fair/<table>/YYYY/MM/DD/<f>.parquet layout
            .option("recursiveFileLookup", "true")
            # All parquet files enter the source; DMS LOAD* full-load
            # files are dropped by the precise full-path filter below —
            # a '[^L]*' glob here would silently drop ANY file whose
            # name merely starts with 'L' (the reference skips only the
            # LOAD prefix, lambda/handler.py:781-783).
            .option("pathGlobFilter", "*.parquet")
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        # Parquet row order = binlog order within a file (the reference
        # calls this CRITICAL, lambda/handler.py:521-527): stamp the
        # file-local ingestion_seq here, on the file source, because
        # _metadata.row_index does not resolve on a foreachBatch
        # micro-batch — so the dedup cascade keeps its final tie-breaker
        # in streaming mode too.
        stream = with_ingestion_seq(reader.parquet(self.source_dir))
        # pathGlobFilter matches leaf *file* names; when a "file" is a
        # directory of part files (Spark-written fixtures), the LOAD name is
        # one level up — so match the LOAD prefix only on the LAST one or
        # two path segments.  Matching any segment (an earlier revision's
        # "/LOAD[^/]*(/|$)") would silently drop the entire stream of a
        # table whose *directory* happens to start with LOAD (e.g.
        # fair/LOAD_events/...); the reference checks only the leaf
        # filename (lambda/handler.py:781-783).
        from pyspark.sql import functions as F
        stream = stream.where(~F.input_file_name().rlike("/LOAD[^/]*(/[^/]+)?$"))
        writer = (
            stream.writeStream
            .foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, spark: SparkSession, timeout_sec: int = 600) -> None:
        q = self.start(spark, available_now=True)
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()
