"""SCD Type 2 dimension history: change events -> versioned validity
intervals.

The reference pipeline materializes only the LATEST row per key
(lambda/handler.py's MERGE keeps the newest version and discards the
path that led there).  A warehouse consumer of the same CDC feed very
often wants the other product: the full *history* of each key as
``[valid_from, valid_to)`` intervals — slowly-changing-dimension
type 2.  This module derives it from the identical change stream, two
declarative forms:

* :func:`scd2_snapshot` — full rebuild from a complete change history.
  One shuffle on the key: a lag-window marks change points (consecutive
  rows whose tracked attributes are unchanged collapse into one
  version), then lead/row_number over the surviving change rows close
  the intervals and number the versions.  Both windows share the same
  partitioning and ordering, so Catalyst plans a single exchange.
* :func:`scd2_apply` — incremental maintenance: fold ONE later CDC
  batch into an existing SCD2 table without touching unaffected keys.
  Work ∝ touched keys (their current rows + the batch), never
  table-sized; closed history rows and untouched keys stream through.

Batch-order contract (the same one the merge's version gate enforces,
operators/merge.py): batches arrive time-ordered per key — a batch row
at or before the key's current ``valid_from`` is STALE and is dropped,
mirroring the version-gated merge.  Under that gate,
``scd2_apply(scd2_snapshot(h1), h2)`` equals
``scd2_snapshot(h1 UNION h2)`` for any time-ordered split — pinned as
a property in tests/test_scd2.py.

At 100 TB: snapshot is one hash-exchange on the key with both windows
and the change-point filter riding it; apply is a broadcast semi/anti
key split plus the same single-exchange collapse over only the touched
keys' rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fsio

#: metadata columns this module appends to the key + tracked columns
META_COLS = ("valid_from", "valid_to", "version", "is_current")


def _collapse_and_close(df: DataFrame, keys: list[str], order: list[str],
                        tracked: list[str],
                        version_base: str | None = None) -> DataFrame:
    """Core fold: drop no-op changes, close intervals, number versions.

    ``df`` carries keys + order + tracked (+ ``version_base`` when the
    incremental path passes each key's pre-existing version floor; the
    full rebuild numbers from 0).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
    cur = F.struct(*[F.col(c) for c in tracked])
    # Null-safe change detection: a version opens where the tracked tuple
    # IS DISTINCT FROM the previous row's.  The first row always opens
    # one (lag is a true NULL there, never equal to a struct value).
    ch = (df.withColumn("__chg", ~cur.eqNullSafe(F.lag(cur).over(w)))
            .where(F.col("__chg")))
    base = (F.col(version_base) if version_base
            else F.lit(0).cast("bigint"))
    out = (ch.withColumn("valid_to", F.lead(F.col(order[0])).over(w))
             .withColumn("version", F.row_number().over(w).cast("bigint")
                         + base)
             .withColumn("is_current", F.col("valid_to").isNull())
             .withColumnRenamed(order[0], "valid_from"))
    return out.select(*keys, *tracked, *META_COLS)


def scd2_snapshot(changes: DataFrame, keys: list[str], order: list[str],
                  tracked: list[str]) -> DataFrame:
    """Build a full SCD2 table from a complete change history.

    ``order[0]`` is the event-time column (it becomes ``valid_from`` /
    ``valid_to``); later order columns are tie-breaks only.  Output:
    keys + tracked + ``valid_from, valid_to (null = open), version
    (1-based per key), is_current``.
    """
    return _collapse_and_close(changes.select(*keys, *order, *tracked),
                               keys, order, tracked)


def scd2_apply(dim: DataFrame, batch: DataFrame, keys: list[str],
               order: list[str], tracked: list[str]) -> DataFrame:
    """Fold one later CDC batch into an existing SCD2 table.

    ``dim`` is a prior :func:`scd2_snapshot` / ``scd2_apply`` output;
    ``batch`` has the raw change shape (keys + order + tracked).  Keys
    absent from ``dim`` start a new history at version 1.  For touched
    keys the CURRENT row re-enters the collapse as the anchor, so a
    batch whose first value equals the current one collapses into it
    (no spurious new version) and numbering continues from the key's
    existing maximum.  Stale rows (order[0] at-or-before the current
    ``valid_from``) are dropped per the batch-order contract.
    """
    tie_types = dict(batch.select(*order).dtypes)
    bkeys = batch.select(*keys).distinct()
    untouched = dim.join(F.broadcast(bkeys), keys, "left_anti")
    touched = dim.join(F.broadcast(bkeys), keys, "left_semi")
    closed = touched.where(~F.col("is_current"))
    open_ = touched.where(F.col("is_current"))

    # per-key gate + numbering floor; batch keys new to the table get
    # (-inf, 0) via the outer join's nulls.
    gate = open_.select(*keys, F.col("valid_from").alias("__cur_from"),
                        (F.col("version") - 1).alias("__vbase"))
    fresh = (batch.select(*keys, *order, *tracked)
             .join(F.broadcast(gate), keys, "left")
             .where(F.col("__cur_from").isNull()
                    | (F.col(order[0]) > F.col("__cur_from")))
             .withColumn("__vbase",
                         F.coalesce(F.col("__vbase"), F.lit(0)).cast("bigint"))
             .drop("__cur_from"))
    # the open row re-enters as the anchor: its valid_from as event time
    # (strictly before every gated batch row), null tie-breaks, version
    # floor = its own version - 1 so it re-numbers to itself.
    anchor = open_.select(
        *keys, F.col("valid_from").alias(order[0]),
        *[F.lit(None).cast(tie_types[c]).alias(c) for c in order[1:]],
        *tracked, (F.col("version") - 1).alias("__vbase"))
    redone = _collapse_and_close(fresh.unionByName(anchor), keys, order,
                                 tracked, version_base="__vbase")

    out_cols = [*keys, *tracked, *META_COLS]
    return (untouched.select(*out_cols)
            .unionByName(closed.select(*out_cols))
            .unionByName(redone.select(*out_cols)))


#: tracked rider marking delete events (op_col mode); part of the
#: tracked tuple, so a delete opens a closing version like any change
DELETED_COL = "__deleted"


class Scd2Table:
    """Persistent SCD2 dimension, incrementally maintained from CDC
    batches — the operational form of :func:`scd2_apply`.

    Storage: plain parquet partitioned by ``_bucket =
    pmod(xxhash64(keys), N)`` over the BUSINESS key (not the version),
    so every version of a key colocates in one bucket and an apply
    touches only the buckets its batch keys hash into — the same
    locality bound as ``KeyedTable.merge_batch`` (operators/merge.py).
    History rows are immutable once closed; an apply rewrites only the
    touched buckets via dynamic partition overwrite.  A
    ``_scd2_meta.json`` sidecar pins the table's definition: a KEY
    mismatch on reopen raises; a differing bucket count (or order/
    tracked/op settings) is overridden by the STORED values — hashing
    with a different count would read the wrong dirs and silently fork
    per-key histories.

    Deletes (``op_col`` mode): a CDC delete event is a CHANGE — it
    opens a version with ``__deleted = true`` riding the tracked tuple,
    closing the previous interval.  ``current()`` excludes
    deleted-current keys; a later re-insert opens the next version.
    Without ``op_col``, batches are treated as pure change events (the
    caller must not feed delete rows).

    Replay idempotency falls out of the batch-order gate: re-applying
    an already-applied batch finds every row at-or-before each key's
    current ``valid_from`` and drops it all — apply(b); apply(b) ==
    apply(b), pinned in tests/test_scd2.py.
    """

    BUCKET_COL = "_bucket"
    META = "_scd2_meta.json"

    def __init__(self, spark: SparkSession, path: str,
                 keys: Sequence[str], order: Sequence[str],
                 tracked: Sequence[str], num_buckets: int = 64,
                 op_col: str | None = None,
                 delete_values: Sequence[str] = ("D",)):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.order = list(order)
        self.tracked = list(tracked)
        self.num_buckets = num_buckets
        self.op_col = op_col
        self.delete_values = list(delete_values)
        # the caller's definition, kept verbatim: init() is a full
        # rebuild, so THERE the constructor arguments win over any
        # stored sidecar (reconfiguration point); apply() keeps
        # honoring the stored definition loaded below.
        self._ctor = {"order": list(order), "tracked": list(tracked),
                      "num_buckets": num_buckets, "op_col": op_col,
                      "delete_values": list(delete_values)}
        self._load_meta()

    # -- metadata sidecar ---------------------------------------------------
    def _load_meta(self) -> None:
        import json

        text = fsio.read_text(self.spark, f"{self.path}/{self.META}")
        if text is None and fsio.recover_dir(self.spark, self.path):
            # a crashed rewind's backup
            text = fsio.read_text(self.spark, f"{self.path}/{self.META}")
        if text is None:
            return
        meta = json.loads(text)
        if meta.get("keys") != self.keys:
            raise ValueError(
                f"Scd2Table at {self.path} was created with keys "
                f"{meta.get('keys')}, not {self.keys}")
        stored_nb = int(meta.get("num_buckets", self.num_buckets))
        if stored_nb != self.num_buckets:
            # honoring the stored count is the safe resolution: a
            # mismatched count would hash keys into the wrong dirs and
            # silently fork per-key histories
            self.num_buckets = stored_nb
        self.order = list(meta.get("order", self.order))
        self.tracked = list(meta.get("tracked", self.tracked))
        self.op_col = meta.get("op_col", self.op_col)
        self.delete_values = list(meta.get("delete_values",
                                           self.delete_values))

    @property
    def _tracked_eff(self) -> list[str]:
        return [*self.tracked, *( [DELETED_COL] if self.op_col else [] )]

    def _prep(self, batch: DataFrame) -> DataFrame:
        """Normalize a raw batch to keys + order + effective tracked."""
        cols = [*self.keys, *self.order, *self.tracked]
        if not self.op_col:
            return batch.select(*cols)
        if self.op_col not in batch.columns:
            raise ValueError(
                f"op_col {self.op_col!r} missing from batch columns "
                f"{batch.columns}")
        # escape like merge.py's delete predicate: a quote or backslash
        # in a configured delete value must not break (or subtly alter)
        # the parsed IN-list
        vals = ", ".join(
            "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
            for v in self.delete_values)
        return batch.select(
            *cols,
            F.expr(f"{self.op_col} IN ({vals})").alias(DELETED_COL))

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]),
                   F.lit(self.num_buckets)))

    def _write(self, dim: DataFrame) -> None:
        """Replace the whole store with ``dim`` (init and rewind)
        through ``fsio.replace_dir``: no bucket of a prior table
        survives, and every crash point leaves the old store or the
        new one whole.  apply replaces only the buckets it wrote
        (``fsio.overwrite_partitions``).  The swap carries the
        _scd2_meta.json sidecar: without it a later handle silently
        falls back to its constructor num_buckets/op_col/tracked, and
        mis-bucketed dynamic applies would fork per-key histories."""
        import json
        meta = json.dumps({
            "keys": self.keys, "order": self.order,
            "tracked": self.tracked, "num_buckets": self.num_buckets,
            "op_col": self.op_col, "delete_values": self.delete_values})

        def write(tmp):
            (self._with_bucket(dim).repartition(self.BUCKET_COL)
             .write.partitionBy(self.BUCKET_COL).parquet(tmp))
            fsio.write_text(self.spark, f"{tmp}/{self.META}", meta)

        fsio.replace_dir(self.spark, self.path, write)

    def init(self, history: DataFrame) -> None:
        """Bootstrap from a full change history.  As the table's reset
        point, init re-asserts the CONSTRUCTOR's definition (order/
        tracked/num_buckets/op settings) over any stored sidecar — a
        re-init is how the table is reconfigured."""
        for attr, val in self._ctor.items():
            setattr(self, attr, val)
        self._write(scd2_snapshot(self._prep(history), self.keys,
                                  self.order, self._tracked_eff))

    def has_data(self) -> bool:
        """True iff at least one bucket directory was COMMITTED.  A
        crashed first init leaves nothing at the path (only its
        ``__tmp`` sibling), which must route the next batch back to
        init, not apply — otherwise the stream wedges on an
        uninferrable empty dir."""
        return any(n.startswith(f"{self.BUCKET_COL}=")
                   for n in fsio.list_names(self.spark, self.path))

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path).drop(self.BUCKET_COL)

    def _read_buckets(self, buckets: Sequence[int]) -> DataFrame:
        from pyspark.errors import AnalysisException
        if not buckets:
            return self.read().limit(0)
        glob = ",".join(str(b) for b in sorted(set(buckets)))
        try:
            return (self.spark.read
                    .option("basePath", self.path)
                    .parquet(f"{self.path}/{self.BUCKET_COL}={{{glob}}}")
                    .drop(self.BUCKET_COL))
        except AnalysisException as exc:
            # ONE brace glob matching zero dirs (a batch of all-new keys
            # whose buckets were never written) is a legal empty state;
            # anything else re-raises (the read-errors-must-raise
            # contract, merge.py._read_raw).  Partial matches never
            # error — Spark globs the single pattern and proceeds with
            # whatever dirs exist.
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.read().limit(0)

    def apply(self, batch: DataFrame) -> Sequence[int]:
        """Fold one later CDC batch in; returns the bucket ids
        rewritten.  Cost ∝ touched buckets: untouched buckets are
        neither read nor written."""
        batch = self._prep(batch)
        bkeys = batch.select(*self.keys).distinct()
        buckets = sorted(
            r[0] for r in self._with_bucket(bkeys)
            .select(self.BUCKET_COL).distinct().collect())
        dim = self._read_buckets(buckets)
        redone = scd2_apply(dim, batch, self.keys, self.order,
                            self._tracked_eff)
        # pin the result before the dynamic overwrite replaces the very
        # files the plan reads (same hazard as RollupTable pre-images)
        redone = redone.localCheckpoint(eager=True)
        fsio.overwrite_partitions(self._with_bucket(redone), self.path,
                                  self.BUCKET_COL)
        return buckets

    def current(self) -> DataFrame:
        """The LIVE dimension rows — open versions, minus keys whose
        open version is a delete marker (op_col mode)."""
        cur = self.read().where(F.col("is_current"))
        if self.op_col:
            cur = cur.where(~F.col(DELETED_COL))
        return cur

    def rewind(self, cutoff) -> None:
        """Incident rollback — the SCD2 half of the restore runbook
        (``CdcPipeline.restore_table`` rolls the KeyedTable back;
        nothing could roll the history store back until this).  Excise
        every version OPENED at or after ``cutoff`` (a ``valid_from``
        value — the bad window's start) and RE-OPEN each key's newest
        surviving version (``valid_to`` null, ``is_current``): the
        exact pre-window state, because per key the version order and
        the ``valid_from`` order coincide, so any closer of a
        surviving row opened inside the excised window.  Keys whose
        whole history began inside the window vanish.

        Replay WITHOUT a rewind cannot reconstruct the history: the
        batch-order gate drops corrected rows whose event time does
        not beat the bad version's ``valid_from``, and the bad
        versions would stay in history regardless.  After the rewind,
        re-applying the corrected window's batches reconstructs the
        true history (``apply`` is deterministic in state + batches) —
        pinned end-to-end in tests/test_pipeline.py.

        Full-table scan + whole-table rewrite through
        ``fsio.replace_dir``: an incident tool, not a cadence op — and
        whole-table is load-bearing, not defensive: a key excised
        entirely leaves its bucket dir needing truncation, which a
        dynamic overwrite would skip (the vanished-group class of bug
        pinned on RollupTable.init, round 11).  The old files stay in
        place until the swap, so the plan reading them needs no pin."""
        dim = self.read()
        to_type = dict(dim.dtypes)["valid_from"]
        kept = dim.where(
            F.col("valid_from") < F.lit(cutoff).cast(to_type))
        w = Window.partitionBy(*[F.col(k) for k in self.keys]).orderBy(
            F.col("version").desc())
        out = (kept.withColumn("__rn", F.row_number().over(w))
               .withColumn("valid_to",
                           F.when(F.col("__rn") == 1,
                                  F.lit(None).cast(to_type))
                           .otherwise(F.col("valid_to")))
               .withColumn("is_current", F.col("__rn") == 1)
               .drop("__rn"))
        # unlike init, rewind is NOT a reconfiguration point: it saves
        # the STORED definition (self.* already reflects the sidecar)
        self._write(out)
