"""Window-function deduplication — THE core CDC operator.

Re-implements the reference's dedup CTAS (lambda/handler.py:452-467):

    ROW_NUMBER() OVER (PARTITION BY <pk cols> ORDER BY <cascade>) AS rn
    ... WHERE rn = 1

and its dedup *bypass* optimization (lambda/handler.py:422-437): when
``COUNT(*) == COUNT(DISTINCT keys)`` the batch has no duplicates and the
window op is skipped entirely.

Scale notes: the window shuffles once on the key hash; with AQE on, a
skewed key is split at runtime.  The same key-hash partitioning is what
the downstream merge join uses, so Catalyst can reuse the exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ordering import RANK_COL, dedup_ordering


def distinct_key_count(keys: Sequence[str]) -> Column:
    """Aggregate expression: the number of distinct key tuples — the
    group count of the dedup window, NULL keys included.

    ``size(collect_set(struct(keys)))`` rather than ``count_distinct``:
    a struct is never NULL, so a NULL-keyed row counts as its own group
    exactly as the window (and merge_cdc's null-safe ``<=>`` join) treats
    it, where ``count_distinct(*cols)`` would skip it; and it plans as a
    plain partial/final aggregate with a single-task final stage instead
    of a hash exchange on the keys.  The final stage holds the input's
    distinct keys in one task: a per-file / micro-batch bound, the same
    one the merge's staging broadcast already assumes."""
    return F.size(F.collect_set(F.struct(*[F.col(k) for k in keys])))


def needs_dedup(df: DataFrame, keys: Sequence[str]) -> bool:
    """True if the batch contains >1 row for any key.

    One aggregation job: COUNT(*) vs the distinct-key count
    (reference: lambda/handler.py:422-431), with NULL keys grouped like
    any other value (see :func:`distinct_key_count`).
    """
    row = df.agg(
        F.count(F.lit(1)).alias("total"),
        distinct_key_count(keys).alias("uniq"),
    ).first()
    return int(row["total"]) != int(row["uniq"])


def deduplicate(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column] | None = None,
    check_bypass: bool = False,
) -> DataFrame:
    """Keep exactly one row per key: the 'last writer' under the cascade.

    ``order`` defaults to the 5-level cascade over whichever CDC columns
    are present (see ordering.dedup_ordering).  With ``check_bypass`` the
    count pre-check of the reference is run first and the window skipped
    for duplicate-free batches; for Spark this saves one shuffle on the
    (common) no-duplicate micro-batch at the cost of one extra pass.
    """
    if check_bypass and not needs_dedup(df, keys):
        return df
    order = list(order) if order is not None else dedup_ordering(df)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn(RANK_COL, F.row_number().over(w))
        .where(F.col(RANK_COL) == 1)
        .drop(RANK_COL)
    )
