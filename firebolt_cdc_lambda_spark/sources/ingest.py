"""CDC Parquet ingestion: scans, path grammar, file-local ingestion order.

Reference behaviors re-implemented:

* Parquet scan of one file / a glob per batch — ``READ_PARQUET(LOCATION,
  PATTERN)`` (lambda/handler.py:504-510; glob patterns in
  FIX_36_TABLES_SCHEMA.sql:19).  Spark: ``spark.read.parquet(paths...)``;
  Catalyst pushes filters/pruning into the scan for free.
* Path grammar ``fair/{table}/{yyyy}/{mm}/{dd}/{file}.parquet``
  (regex at lambda/handler.py:765-777).
* Full-load files named ``LOAD*`` are skipped by the CDC path
  (lambda/handler.py:781-783).
* ``ingestion_seq`` — the per-file row number capturing Parquet row order
  = binlog order, used as the final dedup tie-breaker
  (lambda/handler.py:521-527, rationale :1-10).  Spark has no
  ``ROW_NUMBER() OVER ()``; the Parquet reader's hidden
  ``_metadata.row_index`` column is the row's exact 0-based position in
  its file, so ``row_index + 1`` is the file-local 1-based numbering
  itself — exact under any split of a file into scan partitions, and
  computed in the scan with no exchange, so a staging batch keeps the
  scan's partitioning (one partition for a small file).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ordering import INGEST_SEQ_COL

#: ``fair/<table>/YYYY/MM/DD/<file>.parquet`` (lambda/handler.py:765-777)
CDC_PATH_RE = re.compile(
    r"^(?:.*/)?fair/([^/]+)/(\d{4})/(\d{2})/(\d{2})/([^/]+\.parquet)$"
)


def parse_cdc_path(file_key: str) -> tuple[str, str, str] | None:
    """-> (table, 'YYYY-MM-DD', filename), or None if not a CDC path."""
    m = CDC_PATH_RE.match(file_key)
    if not m:
        return None
    table, yyyy, mm, dd, filename = m.groups()
    return table, f"{yyyy}-{mm}-{dd}", filename


def is_full_load_file(filename: str) -> bool:
    """DMS full-load files are named LOAD*; the CDC path skips them
    (lambda/handler.py:781-783)."""
    return filename.rsplit("/", 1)[-1].upper().startswith("LOAD")


def with_ingestion_seq(df: DataFrame) -> DataFrame:
    """Add the file-local ``ingestion_seq`` (1-based, per input file).

    ``df`` must be a Parquet file scan (projections and filters on top
    are fine): the numbering is the reader's ``_metadata.row_index``.
    A plan that is not file-backed has no row index, and the binlog-order
    tie-breaker cannot be built for it — that raises here, naming
    ``ingestion_seq``, instead of degrading silently.  Streaming file
    sources expose ``_metadata`` on the ``readStream`` DataFrame but not
    on a ``foreachBatch`` micro-batch, so streams stamp before
    ``writeStream``."""
    try:
        return df.withColumn(
            INGEST_SEQ_COL,
            (F.col("_metadata.row_index") + 1).cast("int"))
    except AnalysisException as exc:
        raise ValueError(
            "ingestion_seq: the batch is not a Parquet file scan, so it "
            "has no _metadata.row_index to number its rows in file "
            "order") from exc


def read_cdc_files(
    spark: SparkSession,
    paths: str | Sequence[str],
    add_ingestion_seq: bool = True,
) -> DataFrame:
    """Read one or more CDC Parquet files/globs as a staging batch."""
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.parquet(*paths)
    if add_ingestion_seq:
        df = with_ingestion_seq(df)
    return df
