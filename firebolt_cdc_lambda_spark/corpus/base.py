"""Corpus plumbing + cross-engine determinism helpers.

Determinism contract with the DuckDB oracle (driver compares row-count,
schema, and an order-insensitive value hash):

* Monetary/measure DOUBLE columns are cast to DECIMAL before SUM/AVG —
  decimal aggregation is exact and associative, so Spark and DuckDB
  produce bit-identical results regardless of partitioning/order.  The
  final value is cast back to DOUBLE.  (A double SUM is summation-order
  dependent and WILL hash-mismatch at scale.)
* AVG is computed as CAST(decimal-sum AS DOUBLE) / COUNT — one IEEE
  division, deterministic on both engines.
* Timestamps in outputs are reduced to DATE or epoch microseconds
  (unix_micros / epoch_us) to dodge timezone-rendering differences.
* Embedding math is integer-quantized (see simops) so cosine scores are
  bit-identical.
* Every LIMIT/top-k has a total-order tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


#: columns stored as TIMESTAMP(NANOS) in the testdata, unreadable by Spark
#: as timestamps; read as BIGINT nanos and truncate to micros (the DuckDB
#: oracle applies the same truncation via CAST(ts AS TIMESTAMP)).
_NANO_TS_COLS = {"events": ("ts",)}

#: DuckDB-side FROM-clause replacement normalizing events.ts ns -> us.
EVENTS_SQL = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The grading driver hands us ITS session; pin the session tz (runtime-
    # settable) so timestamp semantics match the tz-naive DuckDB oracle.
    # Parquet ms/us timestamps arrive as TIMESTAMP_NTZ in Spark 4; normalize
    # to TIMESTAMP(LTZ) under the pinned UTC tz so unix_micros/date
    # arithmetic behave identically on both engines.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _NANO_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The RAW parquet schema is pinned per path — the corpus's
    # equivalent of KeyedTable's schema sidecar.  Without it, every
    # load_table call ran a footer schema-inference job before any data
    # job (q5 touches six tables, so six scheduling floors per
    # repetition).  This is METADATA only: every query still computes
    # from the parquet files, and the first touch of a table still
    # infers from the footer, exactly once per process (round-13
    # optimization, guide §6 driver-side costs).
    df = fsio.read_pinned(spark, f"{sf_dir}/{name}.parquet")
    from pyspark.sql import types as T
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, T.TimestampNTZType):
            df = df.withColumn(f_.name, F.col(f_.name).cast(T.TimestampType()))
    for c in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


@dataclass
class Query:
    """One corpus entry: a Spark plan builder + its ANSI-SQL oracle."""
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()


def dec(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    """Exact-aggregation cast; see module docstring."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: str | Column, scale: int = 2) -> Column:
    """Deterministic SUM of a double measure: decimal-sum cast to double."""
    return F.sum(dec(col, scale)).cast("double")


def davg(col: str | Column, scale: int = 2) -> Column:
    """Deterministic AVG: decimal-sum as double / count."""
    return F.sum(dec(col, scale)).cast("double") / F.count(F.lit(1))


# SQL fragments for the same patterns (DuckDB side)
def sql_dsum(col: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def sql_davg(col: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE) / COUNT(*)"
