"""Additive schema evolution + merge-column gating.

Reference behavior re-implemented (SURVEY §1.4, §4.1):

* new staging columns whose type is safe -> auto-added (nullable) to the
  target (reference ALTER TABLE ADD COLUMN, lambda/handler.py:277-311);
  unsafe ones are reported for manual intervention (+ alert hook,
  lambda/handler.py:313-336);
* removed columns and type changes are *detected and reported*, never
  applied (lambda_schema_evolution_integration.py:70-108);
* the merge operates on the *intersection* of staging and target columns
  (lambda/handler.py:879) minus type-incompatible columns — in particular
  DECIMAL precision mismatches (lambda/handler.py:884-897);
* if a PRIMARY-KEY column is dropped by that gate, hard-fail
  (lambda/handler.py:902-916).

In Spark the ALTER TABLE is ``KeyedTable.add_columns``: on an unversioned
table a metadata-only change (the schema sidecar gains the columns; every
pinned read serves them as NULL until a merge writes them), on a versioned
one a full-epoch rewrite through ``evolve_target``.  The gate logic is
driver-side planning code — the idiomatic Spark home for it.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..typemap import is_type_compatible
from .merge import MergeKeyError
from .ordering import CDC_META_COLS

#: Spark types safe to auto-add, the structural analogue of the
#: reference's SAFE_AUTO_ADD_TYPES name-set (mysql_firebolt_type_mapping.py:164-172).
#: NOTE DecimalType is in the reference's safe set for *adding* (a fresh
#: nullable column can't lose data); strictness applies at merge time.
_SAFE_ADD_TYPES = (
    T.StringType, T.IntegerType, T.ShortType, T.ByteType, T.LongType,
    T.BooleanType, T.DateType, T.TimestampType, T.TimestampNTZType,
    T.DoubleType, T.FloatType, T.DecimalType,
)


def safe_to_auto_add(dtype: T.DataType) -> bool:
    return isinstance(dtype, _SAFE_ADD_TYPES)


@dataclass
class SchemaReport:
    """Outcome of one staging-vs-target schema reconciliation."""
    added: list[tuple[str, T.DataType]] = field(default_factory=list)
    manual: list[tuple[str, T.DataType]] = field(default_factory=list)   # unsafe adds
    removed: list[str] = field(default_factory=list)                      # report-only
    type_changed: list[tuple[str, T.DataType, T.DataType]] = field(default_factory=list)
    dropped_from_merge: list[str] = field(default_factory=list)

    @property
    def requires_attention(self) -> bool:
        return bool(self.manual or self.type_changed or self.dropped_from_merge)


def diff_schemas(target_schema: T.StructType, staging: DataFrame,
                 meta_cols: frozenset[str] = CDC_META_COLS) -> SchemaReport:
    """Detect added / removed / type-changed columns, gated like the
    reference (additive only; everything else report-only)."""
    report = SchemaReport()
    tgt = {f.name: f.dataType for f in target_schema.fields}
    stg = {f.name: f.dataType for f in staging.schema.fields
           if f.name not in meta_cols}
    for name, dtype in stg.items():
        if name not in tgt:
            (report.added if safe_to_auto_add(dtype) else report.manual).append((name, dtype))
        elif dtype != tgt[name] and not is_type_compatible(dtype, tgt[name]):
            report.type_changed.append((name, dtype, tgt[name]))
    for name in tgt:
        if name not in stg:
            report.removed.append(name)
    return report


def evolve_target(target: DataFrame, report: SchemaReport) -> DataFrame:
    """Apply the safe additive changes: new columns appear as NULL on
    existing rows (ALTER TABLE ADD COLUMN semantics, lambda/handler.py:290)."""
    out = target
    for name, dtype in report.added:
        out = out.withColumn(name, F.lit(None).cast(dtype))
    return out


def merge_columns(target_schema: T.StructType, staging: DataFrame,
                  keys: Sequence[str],
                  meta_cols: frozenset[str] = CDC_META_COLS,
                  report: SchemaReport | None = None) -> list[str]:
    """Columns that participate in the merge: staging ∩ target, minus CDC
    metadata, minus type-incompatible columns (strict decimal gate).
    Hard-fails if a key column falls out (lambda/handler.py:902-916)."""
    tgt = {f.name: f.dataType for f in target_schema.fields}
    stg = {f.name: f.dataType for f in staging.schema.fields}
    cols: list[str] = []
    for name in tgt:
        if name in meta_cols or name not in stg:
            continue
        if stg[name] == tgt[name] or is_type_compatible(stg[name], tgt[name]):
            cols.append(name)
        else:
            if report is not None:
                report.dropped_from_merge.append(name)
    dropped_keys = [k for k in keys if k not in cols]
    if dropped_keys:
        raise MergeKeyError(
            f"primary-key column(s) {dropped_keys} excluded from merge by the "
            "type-compatibility gate — manual intervention required "
            "(reference lambda/handler.py:902-916)")
    return cols
