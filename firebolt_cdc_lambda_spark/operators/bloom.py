"""Bloom-filter secondary index: bucket pruning for NON-key predicates.

``KeyedTable.lookup`` prunes buckets through the key hash — but a
predicate on any other column must scan every bucket.  ``BloomIndex``
closes that gap the way lakehouse formats do (Delta/Iceberg bloom
columns, the reference's Firebolt side has sparse secondary indexes on
the production tables): a per-bucket bloom filter over the indexed
column, stored next to the table, consulted at lookup time to read only
the buckets that might contain the probed values.

Design (100 TB first):

* **Storage** — the filter words live in a parquet dataset at the
  SIBLING path ``<table>__bloom_<col>/`` (one row per (bucket, word);
  a sibling, not a child, because Spark's file index refuses to read a
  dataset whose root is underscore-prefixed, and a non-underscored
  child dir would be swept into the table's own scans — same
  convention as the ``fsio.replace_dir`` swap dirs), partitioned by
  bucket so a refresh rewrites only refreshed buckets.  At 16k buckets
  x 64 Kbit filters that is ~128 MB — metadata-sized next to the table,
  far too big for a JSON sidecar, which is why probing is a small Spark
  job over this dataset rather than a driver deserialization.  The tiny
  JSON sidecar ``_bloom_<col>.json`` holds only {m, k, table_version,
  built, dirty}.
* **Probing** — the probe values' k bit positions are computed by the
  SAME Spark expression used at build time (``xxhash64(col, j) mod m``),
  then broadcast-joined against the words dataset; a bucket is a
  candidate for a value iff all k of its bits are set.  Cost: two
  metadata-sized jobs, then the same brace-glob pruned scan ``lookup``
  uses.  ``keyhash`` now computes Spark's xxhash64 on the driver for
  integral and string values (``lookup`` prunes literal keys with it);
  the probe does not use it yet.
* **Staleness (fail-open, never wrong)** — merges flag the buckets they
  rewrote as DIRTY in the sidecar (``KeyedTable._mark_index_dirty``,
  riding the commit); dirty buckets are ALWAYS candidates until
  ``refresh()`` recomputes exactly those buckets (reading only them —
  incremental maintenance, cost ∝ churn like the merge itself).
  Wholesale rewrites (init / rebucket / cluster_by / zorder_by /
  evolution) bump the table's ``table_version``; a version mismatch
  voids the whole index and ``lookup`` falls back to a full scan until
  ``build()`` is re-run.  Both failure directions are conservative:
  a stale index can only over-scan, never miss a row.
* **False positives** only ever cost extra bucket reads.  Size ``m``
  at ~10 bits per expected distinct value per bucket for ~1% fp
  (default 4096 bits suits the fixture scale; a 100 TB table with
  ~500 MB buckets wants 64-256 Kbit).

NULLs: rows with a NULL indexed value are skipped at build and NULL
probes are rejected — ``isin`` semantics can never match NULL anyway.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from .. import fsio
from ..session import AQE_OFF, conf_scope
from .merge import KeyedTable
from .sidecar_index import SidecarIndex

_WORD_BITS = 32


class BloomIndex(SidecarIndex):
    kind = "bloom"

    def __init__(self, table: KeyedTable, column: str,
                 m_bits: int = 4096, k: int = 3):
        if k < 1 or m_bits < _WORD_BITS:
            raise ValueError("need k >= 1 and m_bits >= 32")
        super().__init__(table, column)
        self.m = int(m_bits)
        self.k = int(k)
        # SIBLING paths, per SidecarIndex: the unversioned rewrite swap
        # DELETES the whole table dir, so a sidecar inside it would
        # vanish on every rebucket/zorder — losing the stored m/k (and
        # the index registration's paper trail) instead of just being
        # voided by the table_version bump
        self.words_path = self.data_path     # historical alias

    # -- shared hash expression (build AND probe use this verbatim) -------
    def _positions(self, col: str) -> F.Column:
        return F.array(*[
            F.pmod(F.xxhash64(F.col(col), F.lit(j)), F.lit(self.m))
            for j in range(self.k)])

    def _words_for(self, buckets: Sequence[int] | None) -> DataFrame:
        """The (b, w, bits) filter words for the given buckets (None =
        every bucket currently on disk), via the table's pruned scan."""
        t = self.table
        df = t._read_raw(buckets=list(buckets) if buckets else None)
        pos = (df.where(F.col(self.column).isNotNull())
               .select(F.col(t.BUCKET_COL).cast("int").alias("b"),
                       F.explode(self._positions(self.column)).alias("p")))
        return (pos.groupBy("b", F.expr(f"CAST(p DIV {_WORD_BITS} AS INT)")
                            .alias("w"))
                .agg(F.bit_or(F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(p % {_WORD_BITS} AS INT))")).alias("bits")))

    # -- build / refresh ---------------------------------------------------
    def build(self) -> int:
        """Full (re)build over every bucket on disk; registers the column
        in the table meta so merges start flagging dirty buckets.
        Returns the number of buckets indexed."""
        self._replace_data(self._words_for(None))
        built = sorted(self.table.file_stats())
        self._save_side({"column": self.column, "m": self.m, "k": self.k,
                         "table_version": self._current_tv(),
                         "built": built, "dirty": []})
        # registration re-reads the stored meta (never writes this
        # handle's possibly-stale table_version/bloom_columns back)
        self.table._register_bloom_column(self.column)
        return len(built)

    @staticmethod
    def _words_frame(table: KeyedTable, ixs: dict[str, "BloomIndex"],
                     buckets: Sequence[int] | None):
        """ONE tagged (t, b, w, bits) words frame for every index in
        ``ixs`` (each with its OWN m/k — ``_positions`` reads the
        instance sizing), over the given buckets (None = all).  The
        shared aggregation build_many and refresh_many both use: every
        column's hash positions are computed in the same projection,
        tagged, and exploded once, so the data scan happens once; the
        (tag, b, word) exchange carries the sum of the k single
        builds' shuffle volume (unavoidable — the words differ)."""
        t = table
        df = t._read_raw(buckets=list(buckets) if buckets else None)
        tagged = F.explode(F.array(*[
            F.struct(F.lit(c).alias("t"),
                     F.when(F.col(c).isNotNull(),
                            ix._positions(c)).alias("ps"))
            for c, ix in ixs.items()])).alias("e")
        pos = (df.select(F.col(t.BUCKET_COL).cast("int").alias("b"),
                         tagged)
               .where(F.col("e.ps").isNotNull())
               .select("b", F.col("e.t").alias("t"),
                       F.explode("e.ps").alias("p")))
        return (pos.groupBy("t", "b",
                            F.expr(f"CAST(p DIV {_WORD_BITS} AS INT)")
                            .alias("w"))
                .agg(F.bit_or(F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(p % {_WORD_BITS} AS INT))")).alias("bits")))

    @classmethod
    def _build_shared(cls, table: KeyedTable,
                      ixs: dict[str, "BloomIndex"]) -> None:
        """Full rebuild of every index in ``ixs`` (each keeping its own
        m/k) from one scan + one exchange."""
        words = cls._words_frame(table, ixs, None) \
            .localCheckpoint(eager=True)
        built = sorted(table.file_stats())
        for c, ix in ixs.items():
            ix._replace_data(words.where(F.col("t") == c).drop("t"))
            ix._save_side({"column": c, "m": ix.m, "k": ix.k,
                           "table_version": ix._current_tv(),
                           "built": built, "dirty": []})
            table._register_bloom_column(c)

    @classmethod
    def build_many(cls, table: KeyedTable, columns: Sequence[str],
                   m_bits: int = 4096, k: int = 3,
                   ) -> dict[str, "BloomIndex"]:
        """Build bloom filters for ALL ``columns`` from ONE table scan
        — the equality-family twin of ``StatsIndex.build_many``: k
        separate ``build()`` calls each pay a full-table read.  Each
        index is equivalent to the one ``build()`` would produce
        (pinned in test_bloom).  Returns ``{column: BloomIndex}``."""
        cols = list(columns)
        if not cols:
            return {}
        ixs = {c: cls(table, c, m_bits=m_bits, k=k) for c in cols}
        cls._build_shared(table, ixs)
        return ixs

    @classmethod
    def refresh_many(cls, table: KeyedTable,
                     columns: Sequence[str]) -> dict[str, list[int]]:
        """Pay down k bloom indexes' dirty debt with shared scans —
        the bloom twin of ``StatsIndex.refresh_many`` (the maintenance
        cadence previously paid k full scans after a wholesale rewrite
        voided k sidecars, and k pruned scans for the same merge-
        flagged dirty buckets).  Voided indexes rebuild together
        through one scan, each ADOPTING its stored m/k first (the
        ``_adopt_side`` contract — a default-parameter maintenance
        handle must never silently resize an index); live indexes
        recompute over the UNION of their dirty buckets in one pruned
        scan, each column dynamic-overwriting only ITS OWN dirty
        partitions.  Per-index results match k ``refresh()`` calls
        (pinned in test_bloom).  Returns ``{column: buckets
        recomputed}``."""
        out: dict[str, list[int]] = {c: [] for c in columns}
        voided: dict[str, BloomIndex] = {}
        dirty_by_col: dict[str, list[int]] = {}
        sides: dict[str, dict] = {}
        ixs = {c: cls(table, c) for c in columns}
        for c, ix in ixs.items():
            side = ix._load_side()
            if side is not None:
                ix._adopt_side(side)
            if side is None or side["table_version"] != ix._current_tv():
                voided[c] = ix
                continue
            d = sorted(int(b) for b in side.get("dirty", []))
            sides[c] = side
            if d:
                dirty_by_col[c] = d
        if voided:
            cls._build_shared(table, voided)
            full = next(iter(voided.values()))._load_side()["built"]
            for c in voided:
                out[c] = full
        if dirty_by_col:
            union = sorted({b for d in dirty_by_col.values() for b in d})
            live = {c: ixs[c] for c in dirty_by_col}
            words = cls._words_frame(table, live, union) \
                .localCheckpoint(eager=True)
            for c, dirty in dirty_by_col.items():
                one = words.where(F.col("t") == c).drop("t")
                if dirty != union:
                    one = one.where(F.col("b").isin(dirty))
                # dynamic overwrite exactly the dirty buckets' words;
                # an emptied bucket keeps its old words — harmless,
                # false-positive-only (refresh()'s own contract)
                fsio.overwrite_partitions(one, ixs[c].words_path, "b")
                side = sides[c]
                side["built"] = sorted(set(side["built"]) | set(dirty))
                side["dirty"] = []
                ixs[c]._save_side(side)
                out[c] = dirty
        return out

    def _adopt_side(self, side: dict) -> None:
        # adopt the stored sizing FIRST — including on refresh's voided
        # branch, where build() would otherwise silently rebuild a
        # custom-sized index at the constructor defaults (the m/k
        # define the on-disk word format)
        self.m, self.k = int(side["m"]), int(side["k"])

    def _recompute_dirty(self, dirty: list[int]) -> None:
        # dynamic overwrite: replace exactly the dirty buckets' words.
        # A bucket emptied since build keeps its old words — harmless,
        # false-positive-only (see module docstring).
        fsio.overwrite_partitions(self._words_for(dirty),
                                  self.words_path, "b")

    # -- probe -------------------------------------------------------------
    def candidate_buckets(self, values: Sequence) -> list[int] | None:
        """Buckets that might contain any of ``values``: the dirty set
        (fail-open) plus every built bucket whose filter has all k bits
        set for at least one value.  Returns None when the index is
        absent or voided by a wholesale rewrite (caller must full-scan)."""
        # reject NULLs FIRST — before the absent/voided early-returns —
        # so the same call can never work while the index is voided and
        # start raising after the next build (lookup() inherits this)
        if any(v is None for v in values):
            raise ValueError("NULL probe values cannot match (isin "
                             "semantics); filter them out")
        side = self._load_side()
        if side is None or side["table_version"] != self._current_tv():
            return None
        # adopt the stored m/k — probe positions computed under a
        # different m than the on-disk words would false-NEGATIVE
        self.m, self.k = int(side["m"]), int(side["k"])
        values = list(dict.fromkeys(values))   # dup values would break ==k
        schema = self.table._load_schema()
        vtype = schema[self.column].dataType
        from pyspark.sql import types as T
        probe = self.spark.createDataFrame(
            [(v,) for v in values],
            T.StructType([T.StructField("v", vtype)]))
        # the probe value itself is the per-value group key (an id column
        # via monotonically_increasing_id would be evaluated per
        # POST-explode row — k distinct ids per value, count never == k)
        probe_rows = (probe
                      .select(F.col("v").alias("vid"),
                              F.posexplode(self._positions("v"))
                              .alias("j", "p"))
                      .select("vid", "j",
                              F.expr(f"CAST(p DIV {_WORD_BITS} AS INT)")
                              .alias("w"),
                              F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                                     f"CAST(p % {_WORD_BITS} AS INT))")
                              .alias("mask")))
        # schema is pinned (the words layout is fixed at build time:
        # (w, bits) data columns + the b partition dir) — no
        # footer-inference job per probe
        wschema = T.StructType([
            T.StructField("w", T.IntegerType()),
            T.StructField("bits", T.LongType()),
            T.StructField("b", T.IntegerType())])
        # ONE exchange, ONE job: the join emits at most one row per
        # (b, vid, j) — words are unique per (b, w) and probe_rows per
        # (vid, j) — so count(1) == the distinct-j count the k-bits test
        # needs (countDistinct cost a second aggregate phase), and the
        # candidate-bucket dedup happens in the driver set below instead
        # of a second exchange.  AQE is paused for the probe: every
        # physical choice is pinned (broadcast probe, metadata-sized
        # agg) and per-stage re-planning turned this single action into
        # FIVE scheduled jobs (measured round 13).
        try:
            words = self.spark.read.schema(wschema).parquet(self.words_path)
            hits = (words.join(F.broadcast(probe_rows), "w")
                    .where(F.col("bits").bitwiseAND(F.col("mask"))
                           == F.col("mask"))
                    .groupBy("b", "vid")
                    .agg(F.count(F.lit(1)).alias("nbits"))
                    .where(F.col("nbits") == self.k)
                    .select("b"))
            with conf_scope(self.spark, **AQE_OFF):
                matched = {int(r[0]) for r in hits.collect()}
        except Exception:
            # words dataset missing, unreadable, or not the pinned
            # layout (the collect is where a file's types are checked):
            # fail open
            return None
        dirty = {int(b) for b in side.get("dirty", [])}
        return sorted(matched | dirty)

    def lookup(self, values: Sequence) -> DataFrame:
        """The table's live rows where ``column`` is in ``values``,
        reading only the candidate buckets (same brace-glob pruned scan
        as ``KeyedTable.lookup``).  Falls back to a full scan — never a
        wrong answer — when the index is absent or voided."""
        t = self.table
        # candidate_buckets rejects NULL probes up front, on every path
        cands = self.candidate_buckets(values)
        if cands is None:
            base = t.read()
        elif not cands:
            schema = t._load_schema()
            base = t._hide_tombstones(
                self.spark.createDataFrame([], schema)).drop(t.BUCKET_COL)
        else:
            base = t._hide_tombstones(
                t._read_raw(buckets=cands).drop(t.BUCKET_COL))
        return base.where(F.col(self.column).isin(list(values)))
