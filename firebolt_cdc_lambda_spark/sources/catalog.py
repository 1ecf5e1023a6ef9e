"""Warehouse catalog over KeyedTable snapshots (S8: catalog scan).

The reference introspects ``information_schema.tables/columns``
(lambda/handler.py:174-195, schema_evolution_tracker.py:46-91).  Our
warehouse is a directory of KeyedTable snapshots; each persists a
``_schema.json`` sidecar, so the catalog is listable without touching
data files — and feeds `drift.SchemaDriftTracker.scan_fleet` directly.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from .. import fsio


def list_tables(warehouse_root: str) -> list[str]:
    """Dirs holding a ``_schema.json``, minus the sibling dirs a table
    swap passes through (``fsio.SWAP_SUFFIXES``): a crashed rewrite
    leaves a complete table, sidecars included, under those names."""
    if not os.path.isdir(warehouse_root):
        return []
    return sorted(
        name for name in os.listdir(warehouse_root)
        if os.path.isfile(os.path.join(warehouse_root, name, "_schema.json"))
        and not name.endswith(fsio.SWAP_SUFFIXES)
    )


def table_schema(warehouse_root: str, table: str,
                 include_bucket: bool = False) -> T.StructType:
    """USER-visible schema: storage-internal columns (`_bucket`, the
    tombstone marker) are hidden, matching what KeyedTable.read() serves
    — information_schema does not expose storage bookkeeping either."""
    from ..operators.merge import TOMBSTONE_COL
    with open(os.path.join(warehouse_root, table, "_schema.json")) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    hidden = {TOMBSTONE_COL} | (set() if include_bucket else {"_bucket"})
    return T.StructType([f for f in schema.fields if f.name not in hidden])


def live_schemas(warehouse_root: str) -> dict[str, T.StructType]:
    """table -> schema map, the input shape for drift.scan_fleet."""
    return {t: table_schema(warehouse_root, t) for t in list_tables(warehouse_root)}


def table_columns(warehouse_root: str, table: str) -> list[tuple[str, str]]:
    """(name, type) pairs — the information_schema.columns analogue."""
    return [(f.name, f.dataType.simpleString())
            for f in table_schema(warehouse_root, table).fields]
