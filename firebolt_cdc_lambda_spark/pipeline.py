"""The per-batch CDC pipeline — lifecycle §3.1 of the reference as ONE
lazy DataFrame DAG.

Reference flow (lambda/handler.py:736-1000), 7 remote SQL round-trips
with materialization barriers between each:

    staging CTAS -> ingestion_seq CTAS -> schema evolution -> dedup CTAS
    -> merge-column resolution -> MERGE (retried) -> ledger INSERT

Spark flow (this module): read -> ingestion_seq -> schema gate -> window
dedup -> bucketed snapshot merge, analyzed and optimized by Catalyst as a
unit; no intermediate materialization, no MVCC conflict/retry machinery
(a single writer per table per batch, by construction — the entire
conflict saga of FIX_TRANSACTION_CONFLICTS.md:9-16 disappears).
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .config import TableKeys
from .operators.dedup import deduplicate
from .operators.evolution import SchemaReport, diff_schemas, merge_columns
from .operators.merge import KeyedTable
from .operators.ordering import CDC_META_COLS, CREATED_COL, UPDATED_COL
from .sources.ingest import is_full_load_file, parse_cdc_path, read_cdc_files
from .sources.ledger import FileLedger


@dataclass
class BatchResult:
    status: str
    table: str | None = None
    rows: int = 0
    deduped: bool = False
    buckets_rewritten: int = 0
    duration_sec: float = 0.0
    schema_report: SchemaReport | None = None
    reason: str | None = None
    alerts: list[str] = field(default_factory=list)


class CdcPipeline:
    """Batch-mode CDC engine for one warehouse of keyed tables.

    ``table_root`` holds one KeyedTable snapshot per source table.  The
    streaming wrapper (streaming/cdc_stream.py) calls ``process_batch``
    from foreachBatch; the batch/reload path calls ``process_file`` per
    path (replays are no-ops via the ledger, mirroring
    retrigger_lambda_selective.py:72-116).
    """

    def __init__(self, spark: SparkSession, table_root: str,
                 table_keys: TableKeys | None = None,
                 ledger: FileLedger | None | bool = None,
                 num_buckets: int = 64,
                 insert_deletes: bool = False,
                 version_col: str | None = None,
                 tombstones: bool | None = None,
                 versioned: bool = False,
                 delete_vectors: bool = False,
                 delta_upserts: bool = False,
                 alert_hook=None,
                 expectations=None):
        self.spark = spark
        self.table_root = table_root.rstrip("/")
        self.table_keys = table_keys or TableKeys()
        # Replay idempotency is the reference's core guarantee
        # (FIX_DUPLICATE_INSERTS_ON_RETRY.md): default to a ledger under
        # the warehouse root rather than silently running without one.
        # Pass ledger=False to opt out explicitly.
        if ledger is None:
            # one small-file layout, written by the driver with no
            # Spark job: a check and a record cost FS calls only, and
            # GC drops whole expired day dirs (sources/ledger.py)
            ledger = FileLedger(spark, f"{self.table_root}/_ledger")
        self.ledger = ledger or None
        self.num_buckets = num_buckets
        self.insert_deletes = insert_deletes
        self.version_col = version_col
        # tombstoned deletes: required for correct out-of-order replay
        # (a physically-deleted key is otherwise resurrectable by a stale
        # late file — see merge_cdc's tombstones contract).  DEFAULT ON
        # for new tables: SURVEY §7.4 already declares version-aware
        # merging the engine's deliberate deviation from the reference,
        # and the resurrection hole is real (test_tombstones proves it),
        # so safety should not require opting in.  The auto default turns
        # OFF only under insert_deletes=True — that reference-parity mode
        # (lambda/handler.py:609-612) wants delete rows VISIBLE in the
        # target, which tombstones would hide.  Existing tables are
        # unaffected either way: KeyedTable's stored _meta.json mode
        # always wins over the constructor.  Purge accumulated markers
        # via purge_tombstones / CdcFleet.run_maintenance on the same
        # cadence as ledger GC.
        if insert_deletes and delete_vectors:
            # _merge_dv diverts every delete row to the sidecar BEFORE
            # merge_cdc could insert unmatched deletes as live rows, so
            # the combination would silently break insert_deletes'
            # reference-parity semantics — reject loudly (the repo
            # convention for silently-inert flag combos)
            raise ValueError("insert_deletes and delete_vectors are "
                             "mutually exclusive: DV mode records "
                             "deletes in the sidecar, so unmatched "
                             "deletes can never land as live rows")
        if insert_deletes and delta_upserts:
            # same wall as DV mode: the delta log applies deletes at
            # read, so unmatched deletes can never land as live rows
            raise ValueError("insert_deletes and delta_upserts are "
                             "mutually exclusive: the delta log applies "
                             "deletes at read time")
        if tombstones is None:
            # delete_vectors carries the same out-of-order protection in
            # the sidecar, so the marker-row default yields to it.
            # delta_upserts keeps PLAIN-mode delete semantics by
            # contract (KeyedTable rejects the tombstone combo): while a
            # delete sits in the log its version still gates, and after
            # fold_deltas the documented plain-mode resurrection gap
            # applies — operators choosing delta mode trade that for
            # zero write amplification.
            tombstones = (not insert_deletes and not delete_vectors
                          and not delta_upserts)
        self.tombstones = tombstones
        # delete_vectors=True: merge-on-read deletes (KeyedTable DV
        # mode) — a delete-only CDC file appends (keys, version) sidecar
        # entries instead of rewriting buckets; readers anti-join them
        # out.  Fold accumulated entries via fold_delete_vectors on the
        # maintenance cadence.  Existing tables: stored meta wins.
        self.delete_vectors = delete_vectors
        # delta_upserts=True: merge-on-read UPSERTS (KeyedTable delta
        # mode) — every CDC batch appends to the __delta log sidecar
        # and rewrites ZERO base buckets; readers resolve keys from the
        # newest log entry.  Fold accumulated entries via fold_deltas
        # on the maintenance cadence.  Existing tables: stored meta
        # wins.  Partial-column batches materialize the merged row
        # at append (KeyedTable._merge_delta).
        self.delta_upserts = delta_upserts
        # versioned=True turns every target into a time-travelable
        # snapshot table (KeyedTable versioned mode: epoch dirs + a
        # manifest sidecar; read(as_of=...) / history() /
        # purge_versions()).  OFF by default: the reference target has no
        # versions, and epoch accumulation needs a purge cadence the
        # operator must consciously own.  Existing tables: stored meta
        # wins, as with tombstones.
        self.versioned = versioned
        self.alert_hook = alert_hook or (lambda msg: None)
        # per-table pre-merge quality gates: {table: staging_df ->
        # operators.expectations.Expectations}.  A violating batch fails
        # LOUDLY before it can land (alert + raise; process_file records
        # 'failed' in the ledger) — the declarative replacement for the
        # reference's after-the-fact validation SQL.  One extra
        # aggregation job per gated batch; zero cost when unconfigured.
        self.expectations = dict(expectations or {})
        self._rollups: dict[str, list] = {}
        self._join_views: dict[str, list] = {}

    def target_for(self, table: str, keys: Sequence[str]) -> KeyedTable:
        return KeyedTable(self.spark, f"{self.table_root}/{table}", keys,
                          num_buckets=self.num_buckets,
                          tombstones=self.tombstones,
                          versioned=self.versioned,
                          delete_vectors=self.delete_vectors,
                          delta_upserts=self.delta_upserts)

    # -- continuous aggregates maintained per batch -----------------------
    def register_rollup(self, table: str, rollup, project) -> None:
        """Attach a RollupTable to ``table``.  ``project(df)`` maps the
        base snapshot to a DataFrame carrying the rollup's group columns
        (plus whatever the aggregates read).  The rollup refreshes
        incrementally after every merge; it is initialized on first
        refresh if missing."""
        self._rollups.setdefault(table, []).append((rollup, project))

    def _refresh_rollups(self, table: str, keys: Sequence[str],
                         pre_images, changed_keys, target: KeyedTable) -> None:
        for rollup, project in self._rollups.get(table, ()):
            base = project(target.read())
            if not rollup.exists():
                rollup.init(base)
                continue
            # groups rows LEFT (pre-images of updated/deleted keys) plus
            # groups rows now OCCUPY (post-merge rows of all changed keys,
            # which includes inserts)
            post = project(target.read().join(changed_keys, list(keys), "left_semi"))
            touched = (project(pre_images).select(*rollup.group_cols)
                       .unionByName(post.select(*rollup.group_cols)))
            rollup.refresh(base, touched)

    # -- materialized join views maintained per batch ---------------------
    def register_join_view(self, view, fact_table: str | None = None,
                           dim_table: str | None = None) -> None:
        """Attach a :class:`~.operators.joinview.JoinView` whose fact
        and/or dim side this pipeline maintains: after every merge into
        ``fact_table`` (resp. ``dim_table``) the SAME batch is applied
        to the view's fact (resp. dim) delta leg, so the materialized
        join tracks the snapshots batch-for-batch — the reference's
        downstream enrichment joins, kept fresh by the lambda itself.
        A view that does not exist yet is auto-rebuilt on the first
        batch once BOTH source tables exist (deltas before that point
        are covered by the rebuild, which reads the merged snapshots).
        Recovery contract: like rollups, a leg failure after the merge
        landed leaves the view behind until ``view.rebuild()``."""
        if fact_table is None and dim_table is None:
            raise ValueError("register_join_view needs fact_table and/or "
                             "dim_table")
        if fact_table is not None:
            self._join_views.setdefault(fact_table, []).append(("fact", view))
        if dim_table is not None:
            self._join_views.setdefault(dim_table, []).append(("dim", view))

    def _apply_join_views(self, table: str, batch: DataFrame) -> None:
        for leg, view in self._join_views.get(table, ()):
            if not view.table.exists():
                if view.fact.exists() and view.dim.exists():
                    view.rebuild()
                continue   # rebuild covered this batch (or a source is
                           # still missing — covered when it bootstraps)
            if leg == "fact":
                view.apply_fact_delta(batch, version_col=self.version_col,
                                      insert_deletes=self.insert_deletes)
            else:
                view.apply_dim_delta(batch)

    def _rebuild_join_views(self, table: str) -> None:
        """Force-rebuild every view registered on ``table`` (both legs)
        whose sources both exist.  The (re)initialization paths must use
        this, never a delta leg: init REPLACES the snapshot, and a delta
        can only upsert its own keys — it cannot express 'every other
        row vanished'."""
        for _leg, view in self._join_views.get(table, ()):
            if view.fact.exists() and view.dim.exists():
                view.rebuild()

    def _resync_rollups(self, table: str, target: KeyedTable) -> None:
        """Re-aggregate every rollup registered on ``table`` from the
        CURRENT snapshot — the rollup twin of ``_rebuild_join_views``,
        owed by the same paths: any WHOLESALE snapshot replacement
        (bootstrap of a table whose rollup survives from a previous
        life, a full-load RE-bootstrap of an existing table, a
        restore).  The incremental ``_refresh_rollups`` leg cannot
        cover these — it re-aggregates only the batch's touched
        groups, so a replaced base leaves every UNtouched group's
        aggregate permanently stale (the same silent divergence the
        join-view delta legs would have)."""
        for rollup, project in self._rollups.get(table, ()):
            rollup.init(project(target.read()))

    # -- full-load bootstrap (the LOAD* path the CDC stream skips) --------
    def _run_quality_gate(self, table: str, staging: DataFrame) -> None:
        """Enforce the table's declared expectations (if any) — shared by
        EVERY path that can land rows: CDC batches (incl. their bootstrap
        branch) AND full-load bootstraps.  A violating batch alerts and
        raises before anything is written."""
        gate = self.expectations.get(table)
        if gate is None:
            return
        from .operators.expectations import ExpectationError
        try:
            gate(staging).enforce()
        except ExpectationError as exc:
            self.alert_hook(f"[{table}] quality gate: {exc}")
            raise

    def bootstrap_from_load_files(self, table: str, paths: Sequence[str]) -> BatchResult:
        """Reference full loads run as a separate scheduled job
        (CHANGELOG.md:9-14); this is that job: read LOAD* files, dedup,
        (re)initialize the snapshot."""
        keys = self.table_keys.resolve(table)
        if keys is None:
            return BatchResult("skipped", table=table, reason="null primary key")
        t0 = time.time()
        df = read_cdc_files(self.spark, list(paths))
        self._run_quality_gate(table, df)   # full loads are gated too
        deduped = deduplicate(df, keys, check_bypass=True)
        target = self.target_for(table, keys)
        target.init(deduped.select(*self._out_cols(deduped)))
        self._rebuild_join_views(table)
        self._resync_rollups(table, target)
        return BatchResult("bootstrapped", table=table,
                           rows=target.read().count(),
                           duration_sec=time.time() - t0)

    def _out_cols(self, df: DataFrame) -> list[str]:
        """Columns that land in the target at bootstrap: everything but
        CDC metadata (FIX_9_DECIMAL_TABLES.sql:35 EXCLUDE) — EXCEPT the
        version column, which MUST be stored for the version gate to
        compare against (a version_col that never lands makes the gate a
        silent no-op: every merge would see take_s=TRUE and stale late
        files would overwrite or resurrect — a deliberate deviation from
        the reference, which stores no version and leans on its ledger)."""
        return [c for c in df.columns
                if c not in CDC_META_COLS or c == self.version_col]

    # -- entry point 1: one file (lambda_handler analogue) ----------------
    def process_file(self, file_key: str) -> BatchResult:
        t0 = time.time()
        parsed = parse_cdc_path(file_key)
        if parsed is None:
            return BatchResult("skipped", reason="path does not match CDC grammar")
        table, _date, filename = parsed
        if is_full_load_file(filename):
            return BatchResult("skipped", table=table, reason="full-load LOAD* file")
        keys = self.table_keys.resolve(table)
        if keys is None:
            return BatchResult("skipped", table=table, reason="null primary key (table not configured for CDC)")
        if self.ledger is not None and self.ledger.is_processed(file_key):
            return BatchResult("already_processed", table=table)
        try:
            staging = read_cdc_files(self.spark, file_key)
            result = self.process_batch(table, keys, staging)
            if self.ledger is not None:
                self.ledger.record(file_key, "completed")
            result.duration_sec = time.time() - t0
            return result
        except Exception as exc:
            if self.ledger is not None:
                self.ledger.record(file_key, "failed", str(exc))
            raise

    # -- the core batch body (shared by batch + streaming) ----------------
    def process_batch(self, table: str, keys: Sequence[str],
                      staging: DataFrame) -> BatchResult:
        t0 = time.time()
        target = self.target_for(table, keys)

        self._run_quality_gate(table, staging)

        if not target.exists():
            # bootstrap: first batch creates the table (schema from Parquet,
            # metadata columns excluded — FIX_9_DECIMAL_TABLES.sql:35
            # EXCLUDE — except the version column, which must be stored;
            # see _out_cols)
            deduped = deduplicate(staging, keys, check_bypass=True)
            target.init(deduped.select(*self._out_cols(deduped)))
            self._rebuild_join_views(table)
            self._resync_rollups(table, target)
            return BatchResult("bootstrapped", table=table,
                               rows=target.read().count(),
                               duration_sec=time.time() - t0)

        current = target.read()

        # step 2 — schema evolution gate (driver-side planning).  The
        # version column is NOT metadata for diff purposes: it lives in
        # the target (see _out_cols), and on a target bootstrapped before
        # version gating was enabled this diff auto-ADDs it (NULL on old
        # rows — the version gate's NULL contract treats those as
        # older-than-everything, which is exactly right).
        diff_meta = frozenset(CDC_META_COLS - {self.version_col})
        report = diff_schemas(current.schema, staging, meta_cols=diff_meta)
        for name, dtype in report.manual:
            self.alert_hook(f"[{table}] column '{name}' type {dtype.simpleString()} "
                            "requires manual intervention")
        for name, src, tgt in report.type_changed:
            self.alert_hook(f"[{table}] column '{name}' type changed "
                            f"{tgt.simpleString()} -> {src.simpleString()} (not applied)")

        # step 4 — merge-column resolution incl. strict decimal gate,
        # against the POST-evolution schema (ALTER runs before MERGE in the
        # reference lifecycle, steps 2 vs 5).  Dedup (reference step 3)
        # moved INTO the merge below: the bypass check rides the merge's
        # fused aggregation (one less Spark job per batch).  Projecting
        # before deduping picks the same rows ONLY because the projection
        # keeps every column the dedup cascade orders on: keys + CDC meta
        # PLUS the source tie-breakers 'updated'/'created' — those two are
        # DATA columns and may be excluded from the merge column set
        # (type-changed / decimal-gated / absent from the target), but the
        # reference dedups the full unprojected staging table (handler
        # step 3 runs before column resolution), so dropping them here
        # would silently weaken the last-writer cascade.
        from pyspark.sql import types as T
        evolved_schema = T.StructType(
            list(current.schema.fields)
            + [T.StructField(n, t, True) for n, t in report.added])
        cols = merge_columns(evolved_schema, staging, keys, report=report)
        keep = list(keys) + [c for c in cols if c not in keys]
        cascade_cols = CDC_META_COLS | {UPDATED_COL, CREATED_COL}
        meta_keep = [c for c in staging.columns
                     if c in cascade_cols or c == self.version_col]
        stg = staging.select(*keep, *[c for c in meta_keep if c not in keep])
        # Cascade columns riding along ONLY for dedup ordering must not
        # land in the target: a gated-out 'updated' present in both schemas
        # would otherwise re-enter the merge's staging∩target column set.
        ordering_only = tuple(
            c for c in (UPDATED_COL, CREATED_COL)
            if c in stg.columns and c not in keep and c != self.version_col)

        # apply safe ADDs (ALTER TABLE ADD COLUMN analogue): a schema
        # sidecar replace on an unversioned target, a full epoch on a
        # versioned one; the merge below writes the new columns
        if report.added:
            target.add_columns(report.added)

        # pre-images for continuous aggregates: MUST materialize before the
        # merge rewrites the snapshot (see RollupTable.refresh contract)
        pre_images = changed_keys = None
        if self._rollups.get(table):
            changed_keys = stg.select(*keys).distinct().localCheckpoint(eager=True)
            # re-read the target (NOT the lazy `current`): it predates the
            # ADD above, so it lacks the columns the batch added
            pre_images = (target.read().join(changed_keys, list(keys), "left_semi")
                          .localCheckpoint(eager=True))

        # step 3+5 — dedup-bypass check + bucketed snapshot merge in one
        # fused job chain (replaces dedup CTAS + MERGE + retry loop)
        n_buckets, n_rows, did_dedup = target.merge_raw_batch(
            stg, insert_deletes=self.insert_deletes,
            version_col=self.version_col, extra_meta_cols=ordering_only)

        if pre_images is not None:
            self._refresh_rollups(table, keys, pre_images, changed_keys, target)
        self._apply_join_views(table, stg)

        return BatchResult("completed", table=table, rows=n_rows,
                           deduped=did_dedup, buckets_rewritten=n_buckets,
                           duration_sec=time.time() - t0, schema_report=report)

    # -- maintenance: tombstone purge ------------------------------------
    def purge_tombstones(self, table: str, before_version=None) -> bool:
        """Physically drop ``table``'s tombstone marker rows — all of
        them, or only those older than ``before_version`` (compared on
        this pipeline's version_col), keeping recent tombstones to gate
        still-plausible late arrivals.  Returns True if a purge actually
        rewrote the table (False: table unconfigured / absent / not
        tombstone-mode / no purgeable tombstones — the no-op probe is a
        pushed-down marker-column scan, so a clean fleet sweep costs
        metadata + one pruned scan per table, never a rewrite).  Run
        on the maintenance cadence, alongside ledger GC and rebucket."""
        target = self._resolve_target(table, "tombstones")
        if target is None:
            return False
        return target.purge_tombstones(before_version=before_version,
                                       version_col=self.version_col)

    def fold_delete_vectors(self, table: str, before_version=None) -> int:
        """Physically apply ``table``'s delete-vector entries — all, or
        only those older than ``before_version``, keeping recent ones to
        gate still-plausible late arrivals (the DV analogue of
        purge_tombstones, same cadence).  Returns #buckets rewritten
        (0: table unconfigured / absent / not DV-mode / nothing to
        fold)."""
        target = self._resolve_target(table, "delete_vectors")
        if target is None:
            return 0
        return target.fold_delete_vectors(before_version=before_version)

    def fold_deltas(self, table: str) -> int:
        """Physically apply ``table``'s delta log into its base buckets
        and clear the sidecar (the delta-mode analogue of
        fold_delete_vectors, same cadence slot).  Returns #buckets
        rewritten (0: table unconfigured / absent / not delta-mode /
        empty log)."""
        target = self._resolve_target(table, "delta_upserts")
        if target is None:
            return 0
        return target.fold_deltas()

    def restore_table(self, table: str, version: int,
                      materialize: bool = False,
                      restore_schema: bool = False,
                      sync_stores: bool = True) -> int | None:
        """Roll ``table`` back to ``version`` as a NEW version
        (KeyedTable.restore — the incident tool: a bad batch landed,
        the operator restores and replays).  Metadata-only by default
        (zero data files touched — a 100 TB rollback is one sidecar
        write); ``materialize=True`` rewrites the live view into fresh
        files in the same pass; ``restore_schema=True`` also rolls the
        schema sidecar back to the one in force at ``version``
        (KeyedTable.restore's round-12 flag — a rollback across an
        evolution gets the historical column set back, and subsequent
        merges validate against it).  Returns the new latest version,
        or None if the table is unconfigured / absent / not versioned.
        Unlike the maintenance wrappers this NEVER runs on a cadence —
        a restore is an operator decision; pair it with
        :meth:`forget_files` for the replayed window if the corrected
        batches should re-land (the ledger otherwise answers
        ``already_processed`` and the replay is a no-op).

        Derived stores: a restore replaces the snapshot WHOLESALE — the
        same class of change as (re)initialization, so the per-batch
        delta legs cannot express it (a delta can only upsert its own
        keys; it cannot say "every post-``version`` row reverted").
        With ``sync_stores`` (default) the registered join views on
        ``table`` are force-rebuilt and its registered rollups re-
        aggregated from the restored snapshot — cost ∝ store size, the
        price of a consistent read surface; pass ``sync_stores=False``
        to defer that to the operator (the stores then serve the PRE-
        restore content until rebuilt by hand).  SCD2 histories are
        built from the batch STREAM, not the snapshot, so no snapshot
        rebuild can reconstruct them here — the operator's SCD2
        recovery is ``Scd2Table.rewind(window_start)`` followed by the
        corrected-window replay (replay alone reconstructs nothing:
        the batch-order gate drops same-event-time corrected rows),
        pinned end-to-end in
        tests/test_pipeline.py::test_scd2_incident_loop_reconstructs_history."""
        target = self._resolve_target(table, "versioned")
        if target is None:
            return None
        new_v = target.restore(version, materialize=materialize,
                               restore_schema=restore_schema)
        if sync_stores:
            self._rebuild_join_views(table)
            self._resync_rollups(table, target)
        self.alert_hook(f"[{table}] restored to version {version} "
                        f"(new version {new_v})")
        return new_v

    def clone_table(self, table: str, dest_path: str,
                    as_of: int | None = None,
                    materialize: bool = False):
        """Zero-copy dev/test fork of ``table``'s snapshot
        (KeyedTable.clone — the incident runbook's missing first step:
        test the fix on a clone BEFORE restoring production).  Returns
        the clone's KeyedTable handle, or None if the table is
        unconfigured / absent / not versioned.  The clone is NOT
        registered with this pipeline: it is an independent table the
        operator drives directly (or through a second pipeline rooted
        elsewhere).  Source maintenance hazard + the materialize
        escape are documented on KeyedTable.clone."""
        target = self._resolve_target(table, "versioned")
        if target is None:
            return None
        return target.clone(dest_path, as_of=as_of,
                            materialize=materialize)

    def forget_files(self, file_keys=None, prefix: str | None = None) -> int:
        """The ledger half of the restore runbook (FileLedger.forget):
        un-mark the given file keys and/or every key under ``prefix``
        so ``process_file`` re-lands them instead of answering
        ``already_processed``.  Returns the entries dropped (0: no ledger
        configured — streaming checkpoints, not the ledger, own
        exactly-once there, and a checkpointed stream re-delivers
        nothing; replay through batch ``process_file`` instead)."""
        if self.ledger is None:
            return 0
        return self.ledger.forget(file_keys=file_keys, prefix=prefix)

    def delta_backlog(self, table: str) -> int:
        """Unfolded delta-log BATCH count (delta_seq minus the folded
        watermark) — the fleet fold gate's signal.  A pure meta-sidecar
        read: no filesystem listing, no Spark job, and exactly one
        increment per batch regardless of how many bucket files the
        append produced (a file-count gate would cross after a single
        ~30-key batch — review finding, round 10).  0: unconfigured /
        absent / not delta-mode / nothing unfolded."""
        target = self._resolve_target(table, "delta_upserts")
        if target is None:
            return 0
        return max(0, target.delta_seq - target.delta_folded_seq)

    def refresh_bloom_indexes(self, table: str) -> list[str]:
        """Recompute the dirty buckets of every bloom secondary index
        registered on ``table`` (operators/bloom.py — merges flag the
        buckets they rewrite; this is the cadence slot that pays that
        debt down, cost ∝ churn since the last refresh).  Returns the
        refreshed columns (empty: table unconfigured / absent / no
        indexes / nothing dirty).  Multi-index tables batch through
        ``BloomIndex.refresh_many`` (one scan for the shared dirty
        debt; one rebuild scan after a wholesale-rewrite void), the
        same shape as the stats cadence below."""
        from .operators.bloom import BloomIndex
        target = self._resolve_target(table)
        if target is None or not target.bloom_columns:
            return []
        res = BloomIndex.refresh_many(target, list(target.bloom_columns))
        return [c for c, buckets in res.items() if buckets]

    def refresh_stats_indexes(self, table: str) -> list[str]:
        """Zone-map twin of ``refresh_bloom_indexes``: recompute the
        dirty buckets of every min/max stats index registered on
        ``table`` (operators/stats.py).  Returns the refreshed columns
        (empty: table unconfigured / absent / no indexes / nothing
        dirty).  Multi-index tables refresh through
        ``StatsIndex.refresh_many`` — merges flag every registered
        column together, so the per-column cadence was re-reading the
        same dirty buckets k times."""
        from .operators.stats import StatsIndex
        target = self._resolve_target(table)
        if target is None or not target.stats_columns:
            return []
        res = StatsIndex.refresh_many(target, list(target.stats_columns))
        return [c for c, buckets in res.items() if buckets]

    def _resolve_target(self, table: str, mode: str | None = None):
        """Resolve-keys + exists prologue every maintenance hook
        shares (None: table unconfigured or absent, or its ``mode``
        flag — ``"versioned"``, ``"delta_upserts"``, ... — is off) —
        one copy so the cadence hooks cannot diverge (review findings,
        rounds 8+9).  The flag, read from the stored meta, is checked
        first: a table of another mode costs no existence probe."""
        keys = self.table_keys.resolve(table)
        if keys is None:
            return None
        target = self.target_for(table, keys)
        if mode is not None and not getattr(target, mode):
            return None
        return target if target.exists() else None

    def purge_versions(self, table: str, keep_last: int = 1,
                       check_clones: str = "refuse") -> bool:
        """Version GC for a versioned target: retain the newest
        ``keep_last`` snapshots, delete unreachable epoch dirs, collapse
        the purged manifest prefix.  Returns True if a purge ran (False:
        table unconfigured / absent / not versioned).  Same maintenance
        cadence as purge_tombstones and ledger GC — versioned tables
        accumulate one epoch per merge until this runs.

        ``check_clones`` passes through to KeyedTable.purge_versions:
        by default a purge that would strand a registered shallow clone
        REFUSES (raises) — under the fleet sweep's per-table try, that
        skips this table's GC for the sweep and records the failure,
        never strands the fork silently."""
        target = self._resolve_target(table, "versioned")
        if target is None:
            return False
        target.purge_versions(keep_last=keep_last,
                              check_clones=check_clones)
        return True

    def compact_table(self, table: str,
                      target_bytes: int = 128 * 1024 * 1024,
                      small_bytes: int = 32 * 1024 * 1024) -> dict | None:
        """Bin-pack ``table``'s small live files toward ``target_bytes``
        (KeyedTable.compact — grouping-only, content-preserving, cost ∝
        small files).  The cadence slot next to purge/fold/refresh;
        CdcFleet.run_maintenance gates it on health_report's
        ``compactable_files`` (the packable-run count) exactly as
        dead_ratio gates version GC.  None: table unconfigured or
        absent."""
        target = self._resolve_target(table)
        if target is None:
            return None
        return target.compact(target_bytes=target_bytes,
                              small_bytes=small_bytes)

    def store_tables(self) -> dict:
        """Registered auxiliary KeyedTable stores, for the maintenance
        sweep — currently every registered JoinView's materialized
        table, keyed ``joinview:<path basename>`` and deduped by path
        (a view registered on both its fact and dim legs appears
        once).  RollupTable and Scd2Table stores are deliberately NOT
        here: their refresh/apply paths dynamic-overwrite whole touched
        bucket dirs (exactly one file per leaf, pinned in
        test_store_compaction), so they cannot accrete the multi-file
        leaves compact() packs — there is nothing for the sweep to
        do."""
        by_path: dict[str, object] = {}
        for legs in self._join_views.values():
            for _leg, view in legs:
                by_path.setdefault(view.table.path, view.table)
        stores: dict = {}
        for path, t in sorted(by_path.items()):
            name = f"joinview:{path.rsplit('/', 1)[-1]}"
            while name in stores:          # basename clash: disambiguate
                name += "+"
            stores[name] = t
        return stores

    def table_health(self, table: str,
                     small_file_bytes: int = 32 * 1024 * 1024,
                     compact_target_bytes: int = 128 * 1024 * 1024,
                     ) -> dict | None:
        """Small-file / history health metrics for one target (pure
        filesystem listing, no Spark job — KeyedTable.health_report).
        Pass the compact cadence's ``compact_target_bytes`` so the
        ``compactable_files`` count splits runs exactly as that
        compact() will.  None: table unconfigured or absent."""
        target = self._resolve_target(table)
        if target is None:
            return None
        return target.health_report(
            small_file_bytes=small_file_bytes,
            compact_target_bytes=compact_target_bytes)

    # -- entry point 2: reload driver (retrigger analogue) ----------------
    def reload(self, file_keys: Sequence[str]) -> list[BatchResult]:
        """Replay a path list; already-processed files are no-ops
        (SELECTIVE_RELOAD_GUIDE.md flow)."""
        return [self.process_file(k) for k in file_keys]
