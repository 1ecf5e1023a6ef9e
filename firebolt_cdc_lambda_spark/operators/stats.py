"""Zone-map (per-FILE min/max) secondary index: file skipping for RANGE
predicates on non-key columns.

``BloomIndex`` (operators/bloom.py) prunes buckets for EQUALITY probes;
a range predicate (``o_orderdate BETWEEN x AND y``, ``price >= p``)
gets nothing from a bloom filter.  ``StatsIndex`` closes that gap the
way lakehouse formats do (Delta/Iceberg per-file min-max stats, the
classic zone map): per-file min/max for the indexed column, consulted
at scan time to read only the files whose [min, max] interval overlaps
the predicate's range.

Granularity is the FILE, not the bucket, deliberately: buckets are
assigned by the KEY hash, which spreads every value range of every
other column uniformly across buckets — a bucket-level [min, max] on a
hash layout spans the full domain and prunes nothing.  File-level
stats bind when the in-bucket LAYOUT is range-clustered:
``cluster_by(col, max_records_per_file=n)`` sorts each bucket by the
column and cuts it into files covering tight contiguous ranges, so a
narrow range probe reads ~1/k of every bucket's files.  On an
unclustered table (one full-range file per bucket) the index honestly
degrades to a full scan — correct, never fast-but-wrong; the corpus
row (cdc_stats_prune) and tests pin both sides.

Design (100 TB first):

* **Storage** — one row per data file ``(b, f, lo, hi, n_rows,
  n_notnull)`` in the column's NATIVE type, at the SIBLING parquet
  dataset ``<table>__stats_<col>/`` partitioned by bucket (same layout
  and rationale as the bloom words dataset: a refresh
  dynamic-overwrites only refreshed buckets; a sibling because an
  underscore-prefixed root is unreadable and a non-underscored child
  dir would be swept into the table's own scans).  At 16k buckets x 4
  files this is 64k rows — metadata-sized.  The tiny JSON sidecar
  ``_stats_<col>.json`` holds {column, table_version, built, dirty}.
* **Probing** — read the stats dataset (a metadata-sized job), keep
  files whose [lo, hi] overlaps the probe range, collect the (bucket,
  file) ids (bounded by the file count, exactly like health_report's
  listing), resolve them against the CURRENT layout listing, add every
  file of a dirty bucket (fail-open), and read the surviving paths as
  one concrete-path scan under the table's basePath.
* **Staleness (fail-open, never wrong)** — identical contract to
  BloomIndex, riding the SAME merge-commit hook: merges flag rewritten
  buckets dirty (``KeyedTable._mark_index_dirty`` walks both index
  families); dirty buckets' files are always candidates until
  ``refresh()`` recomputes exactly those buckets (cost ∝ churn).
  Wholesale rewrites bump ``table_version``, voiding the index.  A
  stats row referencing a file the current listing no longer has (a
  state the single-writer contract excludes) falls back to a FULL
  scan rather than guessing.  Every failure direction over-scans,
  never misses.

Versioned (epoch-manifest) tables are supported as of round 8: the
index describes the LATEST snapshot — builds and refreshes read
through the table's own epoch resolution, the listing resolves to
each bucket's live current-epoch leaves, and a versioned merge's new
epoch rides the same dirty flag.  Time travel (``read(as_of=)``)
keeps its own resolution path and never consults the index;
``purge_versions`` removes only dead epochs, which the index never
references.  NULLs: ``lo``/``hi`` ignore NULLs (Spark min/max
semantics) and a range predicate can never match NULL, so an all-NULL
file is NOT a candidate.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

from .. import fsio
from ..session import AQE_OFF, conf_scope
from .merge import KeyedTable
from .sidecar_index import SidecarIndex


class StatsIndex(SidecarIndex):
    kind = "stats"

    def __init__(self, table: KeyedTable, column: str):
        super().__init__(table, column)
        self.stats_path = self.data_path     # historical alias

    # -- shared aggregation (build, refresh AND build_many use this) -------
    @staticmethod
    def _stats_frame(table: KeyedTable, buckets: list[int] | None,
                     columns: list[str]) -> DataFrame:
        """ONE per-file aggregation computing every column's (__lo_i,
        __hi_i, __nn_i) beside the shared n_rows, over the given
        buckets (None = every bucket on disk), via the table's pruned
        scan + the file-source ``_metadata`` column.  One partial-
        aggregated exchange of #files rows.  The single definition all
        build paths share — a change to the row shape or the fname
        derivation cannot diverge build() from build_many() (review
        finding, round 9)."""
        df = table._read_raw(buckets=buckets)
        if not df.inputFiles():
            # every requested bucket dir is gone (e.g. a refresh whose
            # dirty buckets were ALL emptied by deletes): _read_raw
            # falls back to an in-memory empty relation, which has no
            # ``_metadata`` column — referencing it would crash the
            # refresh (latent since round 8, surfaced by the
            # refresh_many equivalence test).  Return an empty frame
            # of the right shape; the dirty-partition writer then
            # correctly DROPS those buckets' stats partitions.
            from pyspark.sql import types as T
            fields = [T.StructField("b", T.IntegerType()),
                      T.StructField("f", T.StringType()),
                      T.StructField("n_rows", T.LongType())]
            for i, c in enumerate(columns):
                dt = df.schema[c].dataType
                fields += [T.StructField(f"__lo_{i}", dt),
                           T.StructField(f"__hi_{i}", dt),
                           T.StructField(f"__nn_{i}", T.LongType())]
            return table.spark.createDataFrame([], T.StructType(fields))
        fname = F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for i, c in enumerate(columns):
            col = F.col(c)
            aggs += [F.min(col).alias(f"__lo_{i}"),
                     F.max(col).alias(f"__hi_{i}"),
                     F.count(col).alias(f"__nn_{i}")]
        return (df.groupBy(F.col(table.BUCKET_COL).cast("int").alias("b"),
                           fname.alias("f"))
                .agg(*aggs))

    @staticmethod
    def _one_column(stats: DataFrame, i: int) -> DataFrame:
        """Project the i-th column's (b, f, lo, hi, n_rows, n_notnull)
        sidecar-dataset shape out of a ``_stats_frame`` result."""
        return stats.select(
            "b", "f",
            F.col(f"__lo_{i}").alias("lo"),
            F.col(f"__hi_{i}").alias("hi"),
            "n_rows",
            F.col(f"__nn_{i}").alias("n_notnull"))

    def _stats_for(self, buckets: list[int] | None) -> DataFrame:
        """Per-file (b, f, lo, hi, n_rows, n_notnull) for this index's
        column over the given buckets."""
        return self._one_column(
            self._stats_frame(self.table, buckets, [self.column]), 0)

    def _listing(self) -> dict[tuple[int, str], str]:
        """{(bucket, filename): full path} for every LIVE data file.
        On a versioned table "live" = each bucket's resolved
        current-epoch leaves, listed by one globStatus per DISTINCT
        live epoch over a bucket brace-alternation (the _read_versioned
        pattern) — never a walk of the full epoch tree: history
        accumulates one epoch per merge until the purge cadence, and a
        query-time probe must not pay O(dead leaves) list calls for
        files it then discards (review finding, round 8)."""
        t = self.table
        # the versioned branch below lists leaves directly (not through
        # _walk_data_files), so it must run compact-swap recovery itself
        # or a crashed compact's half-swapped leaf could serve duplicate
        # rows through the dirty-bucket fail-open (review finding,
        # round 9; the unversioned branch inherits this from
        # _walk_data_files)
        t._recover_compact()
        if not t.versioned:
            return {(b, st.getPath().getName()): str(st.getPath())
                    for b, st, _ in t._walk_data_files()}
        assign, _ = t._resolve_epochs(None)
        # group by (root, epoch): a shallow clone resolves buckets to
        # FOREIGN roots (round 12) — the zone map indexes those files
        # under their real paths; a clone-local rewrite extinguishes
        # the refs and the next build re-lists local leaves only
        groups: dict[tuple[str | None, int], list[int]] = {}
        for b, (e, r) in assign.items():
            groups.setdefault((r, e), []).append(b)
        fs, _, jvm = t._fs_and_path(t.path)
        hconf = t.spark._jsc.hadoopConfiguration()
        out: dict[tuple[int, str], str] = {}
        bprefix = f"{t.BUCKET_COL}="
        for (r, e), bs in groups.items():
            root = r if r is not None else t.path
            alt = ",".join(str(b) for b in sorted(bs))
            glob = jvm.org.apache.hadoop.fs.Path(
                f"{root}/{bprefix}{{{alt}}}/{t.EPOCH_COL}={e}/*.parquet")
            gfs = fs if r is None else glob.getFileSystem(hconf)
            for st in gfs.globStatus(glob) or []:
                p = st.getPath()
                bucket = int(p.getParent().getParent()
                             .getName()[len(bprefix):])
                out[(bucket, p.getName())] = str(p)
        return out

    # -- build / refresh -----------------------------------------------------
    def build(self) -> int:
        """Full (re)build over every bucket on disk; registers the
        column in the table meta so merges start flagging dirty
        buckets.  Returns the number of files indexed."""
        stats = self._stats_for(None).localCheckpoint(eager=True)
        self._replace_data(stats)
        fsio.pin(self.stats_path, stats.schema)
        n_files = stats.count()
        built = sorted(self.table.file_stats())
        self._save_side({"column": self.column,
                         "table_version": self._current_tv(),
                         "built": built, "dirty": []})
        self.table._register_stats_column(self.column)
        return int(n_files)

    @classmethod
    def build_many(cls, table: KeyedTable,
                   columns: list[str]) -> dict[str, "StatsIndex"]:
        """Build zone maps for ALL ``columns`` from ONE table scan —
        k separate ``build()`` calls each pay a full-table read, which
        at 100 TB makes indexing k columns k× more expensive than it
        needs to be (round-8 verdict, optional item).  One grouped
        aggregation computes every column's per-file (lo, hi,
        n_notnull) alongside the shared n_rows; the k sidecar-dataset
        writes then run off the checkpointed (file-count-sized)
        aggregate, never the data.  Each resulting index is
        byte-for-byte the one ``build()`` would have produced (pinned
        in test_stats).  Returns ``{column: StatsIndex}``."""
        if not columns:
            return {}
        t = table
        stats = (cls._stats_frame(t, None, columns)
                 .localCheckpoint(eager=True))
        built = sorted(t.file_stats())
        out: dict[str, StatsIndex] = {}
        for i, c in enumerate(columns):
            ix = cls(t, c)
            one = cls._one_column(stats, i)
            ix._replace_data(one)
            fsio.pin(ix.stats_path, one.schema)
            ix._save_side({"column": c,
                           "table_version": ix._current_tv(),
                           "built": built, "dirty": []})
            t._register_stats_column(c)
            out[c] = ix
        return out

    def _recompute_dirty(self, dirty: list[int]) -> None:
        """SidecarIndex refresh hook.  A dirty bucket that came back
        EMPTY (every row deleted) gets its stats partition deleted
        outright — an empty group vanishes from the aggregation, so
        dynamic overwrite alone would leave stale rows referencing
        dead files, and the probe's missing-file check would then
        degrade every scan to full."""
        stats = self._stats_for(dirty).localCheckpoint(eager=True)
        self._write_dirty_partitions(stats, dirty)

    def _write_dirty_partitions(self, one: DataFrame,
                                dirty: list[int]) -> None:
        """Dynamic-overwrite exactly ``dirty``'s stats partitions from a
        single-column stats frame, deleting partitions whose bucket
        came back empty (shared by refresh and refresh_many)."""
        refreshed = {int(r[0]) for r in
                     one.select("b").distinct().collect()}
        fsio.overwrite_partitions(one, self.stats_path, "b",
                                  emptied=set(dirty) - refreshed)
        fsio.pin(self.stats_path, one.schema)

    @classmethod
    def refresh_many(cls, table: KeyedTable,
                     columns: list[str]) -> dict[str, list[int]]:
        """Pay down the dirty debt of k stats indexes with shared
        scans — the refresh-side twin of ``build_many``: the per-column
        cadence re-read every dirty bucket once PER column even though
        merges flag all registered columns together.  Voided indexes
        (table_version mismatch) rebuild together through
        ``build_many`` (one full scan); live indexes recompute over
        the UNION of their dirty buckets in one pruned scan, each
        column dynamic-overwriting only ITS OWN dirty partitions (a
        bucket dirty for A but clean for B must not churn B's
        partition).  Per-index results are identical to k ``refresh()``
        calls (pinned in test_stats).  Returns ``{column: buckets
        recomputed}`` — ``refresh()``'s contract per column."""
        out: dict[str, list[int]] = {c: [] for c in columns}
        voided: list[str] = []
        dirty_by_col: dict[str, list[int]] = {}
        sides: dict[str, dict] = {}
        ixs = {c: cls(table, c) for c in columns}
        for c, ix in ixs.items():
            side = ix._load_side()
            if side is not None:
                ix._adopt_side(side)
            if side is None or side["table_version"] != ix._current_tv():
                voided.append(c)
                continue
            d = sorted(int(b) for b in side.get("dirty", []))
            sides[c] = side
            if d:
                dirty_by_col[c] = d
        if voided:
            rebuilt = cls.build_many(table, voided)
            # build_many already walked the layout for its "built"
            # list — read it back (two FS round trips) instead of
            # paying a second full listing (review finding, round 9)
            full = rebuilt[voided[0]]._load_side()["built"]
            for c in voided:
                out[c] = full
        if dirty_by_col:
            cols = list(dirty_by_col)
            union = sorted({b for d in dirty_by_col.values() for b in d})
            stats = (cls._stats_frame(table, union, cols)
                     .localCheckpoint(eager=True))
            for i, c in enumerate(cols):
                dirty = dirty_by_col[c]
                one = cls._one_column(stats, i)
                if dirty != union:
                    one = one.where(F.col("b").isin(dirty))
                ixs[c]._write_dirty_partitions(one, dirty)
                side = sides[c]
                side["built"] = sorted(set(side["built"]) | set(dirty))
                side["dirty"] = []
                ixs[c]._save_side(side)
                out[c] = dirty
        return out

    # -- probe ----------------------------------------------------------------
    def candidate_files(self, lo=None, hi=None,
                        buckets=None) -> list[str] | None:
        """Full paths of the data files that might hold rows with
        ``column`` in [lo, hi] (either bound may be None = unbounded):
        overlap-matched built files plus EVERY file of a dirty bucket
        (fail-open).  Returns None when the index is absent, voided by
        a wholesale rewrite, or inconsistent with the current listing
        (caller must full-scan).

        ``buckets`` restricts candidates to the given bucket ids — the
        MIXED-predicate composition hook: pass a BloomIndex's
        ``candidate_buckets(values)`` to intersect an equality prune
        with this range prune (a row matching both predicates can only
        live in a file that overlaps the range AND sits in a bucket
        the bloom admits; each index's fail-open set is already inside
        its own candidates, so the intersection stays safe).  A None
        from the bloom side means "no information" — pass buckets=None
        then, not []."""
        if lo is None and hi is None:
            raise ValueError("unbounded probe: pass lo and/or hi")
        side = self._load_side()
        if side is None or side["table_version"] != self._current_tv():
            return None
        try:
            # schema pin (round 13, guide §1/§6): the stats layout is
            # fixed by the writes, which all re-pin it — no
            # footer-inference job per probe; first read still infers
            stats = fsio.read_pinned(self.spark, self.stats_path)
        except AnalysisException as exc:
            # ONLY verifiably-absent states degrade to a full scan
            # (registered column whose dataset was never built, or an
            # aborted first build leaving an empty dir).  Everything
            # else re-raises: a bare `except: return None` would turn
            # any persistent fault (corrupted footer, permissions) into
            # a PERMANENT silent full scan with no signal — the same
            # whitelist contract as _read_raw / _read_dv (advice
            # finding, round 8).
            if fsio.is_absent(exc):
                return None
            raise
        # NO cast of the probe bounds to the column type: a plain cast
        # turns an out-of-range bound (e.g. 2^31 against an int column)
        # into NULL, which would return ZERO candidates — a silent
        # false negative, the one failure direction this module bans.
        # Spark's comparison coercion widens both sides instead, which
        # is exactly what scan()'s residual filter does — the probe and
        # the filter cannot diverge (review finding, round 8).
        cond = F.col("lo").isNotNull()        # all-NULL file: no match
        if hi is not None:
            cond = cond & (F.col("lo") <= F.lit(hi))
        if lo is not None:
            cond = cond & (F.col("hi") >= F.lit(lo))
        # AQE paused: the candidate collect is a metadata-sized filter
        # over the (file-count-sized) stats dataset — per-stage
        # re-planning only multiplies scheduled jobs (the bloom-probe
        # rationale, round 13)
        with conf_scope(self.spark, **AQE_OFF):
            matched = [(int(r[0]), str(r[1])) for r in
                       stats.where(cond).select("b", "f").collect()]
        dirty = {int(b) for b in side.get("dirty", [])}
        want = None if buckets is None else {int(b) for b in buckets}
        listing = self._listing()
        paths = {p for (b, f), p in listing.items()
                 if b in dirty and (want is None or b in want)}
        for b, f in matched:
            if want is not None and b not in want:
                continue                       # excluded by the caller
            if b in dirty:
                continue                       # whole bucket already in
            p = listing.get((b, f))
            if p is None:
                # a built, non-dirty stats row references a vanished
                # file: out-of-contract state — refuse to guess
                return None
            paths.add(p)
        return sorted(paths)

    def scan(self, lo=None, hi=None, buckets=None) -> DataFrame:
        """The table's live rows where ``column`` is within [lo, hi]
        (inclusive; either bound may be None), reading only the
        candidate files as one concrete-path scan under the table's
        basePath.  Falls back to a full scan — never a wrong answer —
        when the index is absent, voided, or inconsistent.  ``buckets``
        composes with an equality index (see candidate_files); the
        caller still applies its own equality filter on the result."""
        t = self.table
        files = self.candidate_files(lo=lo, hi=hi, buckets=buckets)
        if files is None:
            base = t.read()
        elif not files:
            schema = t._load_schema()
            base = t._hide_tombstones(
                self.spark.createDataFrame([], schema)).drop(t.BUCKET_COL)
        else:
            # pin the pruned scan's schema from the table sidecar — the
            # same pin _read_raw gives the bucket-glob path (round 13);
            # versioned layouts add the epoch partition dir column
            reader = self.spark.read.option("basePath", t.path)
            tschema = t._leaf_schema()
            if tschema is not None and t.BUCKET_COL in tschema.names:
                reader = reader.schema(tschema)
            raw = reader.parquet(*files)
            # the versioned layout adds the epoch partition column —
            # drop it ONLY there: on a plain table "_epoch" is a legal
            # USER column name, and an unconditional drop would
            # silently delete it in exactly (and only) the pruned
            # branch (review finding, round 8)
            drop = ([t.BUCKET_COL, t.EPOCH_COL] if t.versioned
                    else [t.BUCKET_COL])
            base = t._hide_tombstones(raw).drop(*drop)
        c = F.col(self.column)
        if lo is not None:
            base = base.where(c >= F.lit(lo))
        if hi is not None:
            base = base.where(c <= F.lit(hi))
        return base
