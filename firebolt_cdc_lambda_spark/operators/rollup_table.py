"""Incrementally-maintained rollup table (continuous aggregate).

The "hypertable rollup" pattern: a materialized GROUP BY over a keyed
snapshot (e.g. daily revenue per status) that is refreshed *per CDC
batch* by recomputing only the groups the batch touched — never the
full aggregation.

    base snapshot (KeyedTable)  --merge_batch-->  changed rows
    changed rows -> distinct group keys           (small)
    re-aggregate base WHERE group IN touched      (group-pruned scan)
    overwrite ONLY those groups in the rollup     (dynamic partition
                                                   overwrite on a
                                                   group-hash bucket)

Cost per refresh: O(rows in touched groups) + O(touched buckets), vs
O(table) for a full re-aggregation.  At 100 TB with date-bucketed
groups, a CDC batch touching one day refreshes one day.

Aggregates must be recomputable from the base (any Spark agg works —
this is re-aggregation of pruned groups, not algebraic delta-merging,
so MIN/MAX/COUNT DISTINCT are all safe under deletes).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio


class RollupTable:
    BUCKET_COL = "_gbucket"

    def __init__(self, spark: SparkSession, path: str,
                 group_cols: Sequence[str],
                 agg_builder: Callable[[], list[Column]],
                 num_buckets: int = 32):
        """``agg_builder`` returns fresh aggregate Columns (aliased), e.g.
        ``lambda: [F.count(F.lit(1)).alias("n"), dsum("amt").alias("total")]``."""
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.agg_builder = agg_builder
        self.num_buckets = num_buckets
        fsio.recover_dir(spark, path)    # a crashed init's backup

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(F.xxhash64(*[F.col(c) for c in self.group_cols]),
                   F.lit(self.num_buckets)))

    def _aggregate(self, base: DataFrame) -> DataFrame:
        return base.groupBy(*self.group_cols).agg(*self.agg_builder())

    def init(self, base: DataFrame) -> None:
        """(Re)aggregate from scratch — REPLACES the whole store through
        ``fsio.replace_dir``.  A re-init whose fresh aggregate occupies
        FEWER buckets must not leave the vacated bucket dirs' stale
        groups alive (found via a shrinking full reload — group gone
        from the base, still served by the rollup)."""
        fsio.replace_dir(
            self.spark, self.path,
            lambda tmp: self._with_bucket(self._aggregate(base))
            .repartition(self.BUCKET_COL)
            .write.partitionBy(self.BUCKET_COL).parquet(tmp))

    def exists(self) -> bool:
        """Hadoop-FS existence check — works on object stores, unlike
        driver-local ``os.path`` (which would force a full re-init of the
        rollup every batch on S3/HDFS roots)."""
        return fsio.exists(self.spark, self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path).drop(self.BUCKET_COL)

    def refresh(self, base: DataFrame, touched_rows: DataFrame) -> int:
        """Refresh groups touched by a batch.  ``touched_rows`` carries the
        group columns of every affected row — pass BOTH pre- and
        post-merge images of changed keys so groups a row *left* are
        refreshed too.  Returns #groups recomputed.

        SEQUENCING CONTRACT: pre-merge images must be *materialized*
        (``.localCheckpoint(eager=True)`` or collected) BEFORE the merge
        rewrites the base snapshot — a lazy pre-image DataFrame would
        re-read files the merge has already replaced."""
        groups = touched_rows.select(*self.group_cols).distinct().cache()
        try:
            n_groups = groups.count()
            if n_groups == 0:
                return 0
            # group-pruned re-aggregation of the base
            pruned = base.join(F.broadcast(groups), on=self.group_cols, how="left_semi")
            fresh = self._with_bucket(self._aggregate(pruned))
            buckets = [r[0] for r in
                       self._with_bucket(groups).select(self.BUCKET_COL)
                       .distinct().collect()]
            current = self.spark.read.parquet(self.path) \
                .where(F.col(self.BUCKET_COL).isin(buckets))
            # groups that vanished (all base rows deleted) must drop out:
            # rebuild touched buckets = untouched-groups-in-bucket + fresh
            keep = current.join(F.broadcast(groups), on=self.group_cols, how="left_anti")
            out = keep.unionByName(fresh).cache()
            try:
                # Kept-bucket set BEFORE the self-overwrite: the write
                # invalidates the cache, and re-running this plan (which
                # reads self.path) afterwards would see post-write files —
                # wrong results, or a crash if the pre-refresh table was
                # empty.  This collect also warms the cache for the write.
                kept_b = {r[0] for r in out.select(self.BUCKET_COL).distinct().collect()}
                # a bucket whose only group vanished is absent from `out`
                fsio.overwrite_partitions(
                    out, self.path, self.BUCKET_COL,
                    emptied=[b for b in buckets if b not in kept_b])
                return n_groups
            finally:
                out.unpersist()
        finally:
            groups.unpersist()
