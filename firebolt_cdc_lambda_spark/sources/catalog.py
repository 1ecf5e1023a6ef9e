"""Warehouse catalog over KeyedTable snapshots (S8: catalog scan).

The reference introspects ``information_schema.tables/columns``
(lambda/handler.py:174-195, schema_evolution_tracker.py:46-91).  Our
warehouse is a directory of KeyedTable snapshots; each persists a
``_schema.json`` sidecar, so the catalog is listable without touching
data files — and feeds `drift.SchemaDriftTracker.scan_fleet` directly.
"""

from __future__ import annotations

import json

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .. import fsio


def _session(spark: SparkSession | None) -> SparkSession:
    """``spark``, else the active session, else the engine's own."""
    if spark is not None:
        return spark
    try:
        return SparkSession.active()
    except PySparkRuntimeError:
        from ..session import get_spark
        return get_spark()


def list_tables(warehouse_root: str,
                spark: SparkSession | None = None) -> list[str]:
    """Dirs holding a ``_schema.json``, minus the sibling dirs a table
    swap passes through (``fsio.SWAP_SUFFIXES``): a crashed rewrite
    leaves a complete table, sidecars included, under those names.  A
    lone ``t__old`` (a crash between the two renames of a swap) is the
    committed ``t``: it is recovered and listed.  Listing goes through
    the Hadoop FS of ``spark`` (default: the active session), so a URI
    root (``file://``, ``s3a://``) lists like a plain path."""
    spark = _session(spark)
    names = set(fsio.list_names(spark, warehouse_root))
    for name in sorted(names):
        table = name.removesuffix("__old")
        if table != name and table not in names and fsio.recover_dir(
                spark, f"{warehouse_root}/{table}"):
            names.add(table)
    return sorted(
        name for name in names
        if not name.endswith(fsio.SWAP_SUFFIXES)
        and fsio.exists(spark, f"{warehouse_root}/{name}/_schema.json"))


def table_schema(warehouse_root: str, table: str,
                 include_bucket: bool = False,
                 spark: SparkSession | None = None) -> T.StructType:
    """USER-visible schema: storage-internal columns (`_bucket`, the
    tombstone marker) are hidden, matching what KeyedTable.read() serves
    — information_schema does not expose storage bookkeeping either."""
    from ..operators.merge import TOMBSTONE_COL
    text = fsio.read_text(_session(spark),
                          f"{warehouse_root}/{table}/_schema.json")
    schema = T.StructType.fromJson(json.loads(text))
    hidden = {TOMBSTONE_COL} | (set() if include_bucket else {"_bucket"})
    return T.StructType([f for f in schema.fields if f.name not in hidden])


def live_schemas(warehouse_root: str, spark: SparkSession | None = None
                 ) -> dict[str, T.StructType]:
    """table -> schema map, the input shape for drift.scan_fleet."""
    return {t: table_schema(warehouse_root, t, spark=spark)
            for t in list_tables(warehouse_root, spark)}


def table_columns(warehouse_root: str, table: str,
                  spark: SparkSession | None = None
                  ) -> list[tuple[str, str]]:
    """(name, type) pairs — the information_schema.columns analogue."""
    return [(f.name, f.dataType.simpleString())
            for f in table_schema(warehouse_root, table, spark=spark).fields]
