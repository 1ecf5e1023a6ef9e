"""Shared contract for the sidecar-backed secondary-index family.

``BloomIndex`` (equality -> candidate buckets) and ``StatsIndex``
(range -> candidate files) share one staleness/maintenance contract:

* a bucket-partitioned parquet DATASET at the sibling path
  ``<table>__<kind>_<col>/`` plus a tiny JSON sidecar
  ``<table>__<kind>_<col>.json`` holding {table_version, built, dirty};
* merges flag touched buckets DIRTY through
  ``KeyedTable._mark_index_dirty`` (fail-open: dirty buckets are
  always candidates);
* ``refresh()`` recomputes exactly the dirty buckets (cost ∝ churn)
  and falls back to a full ``build()`` when a wholesale rewrite bumped
  ``table_version`` (the void); ``build()`` swaps the whole dataset;
* every failure direction over-scans, never misses.

That contract used to live in two verbatim copies (review finding,
round 8); this base holds it once.  Subclasses provide ``kind``,
``build()``, the probe methods, and the two hooks ``_adopt_side``
(bloom re-adopts stored m/k — including on the voided branch, so a
default-parameter maintenance handle can never silently rebuild a
differently-sized index) and ``_recompute_dirty`` (the dataset write
for exactly those buckets).
"""

from __future__ import annotations

import json

from .. import fsio


class SidecarIndex:
    kind: str = ""          # subclass: "bloom" | "stats"

    def __init__(self, table, column: str):
        self.table = table
        self.column = column
        self.spark = table.spark
        self.data_path = f"{table.path}__{self.kind}_{column}"
        self.sidecar_path = f"{self.data_path}.json"
        # a crashed build's backup: a dynamic refresh into an absent
        # dataset would start a partial one beside it
        fsio.recover_dir(self.spark, self.data_path)

    # -- tiny JSON sidecar --------------------------------------------------
    def _load_side(self) -> dict | None:
        text = fsio.read_text(self.spark, self.sidecar_path)
        return None if text is None else json.loads(text)

    def _save_side(self, side: dict) -> None:
        fsio.write_text(self.spark, self.sidecar_path, json.dumps(side))

    def _replace_data(self, df) -> None:
        """Replace the whole dataset with ``df`` (partitioned by ``b``):
        no old bucket id survives a rebuild after a DOWNWARD rebucket,
        and a crashed build leaves the old dataset whole."""
        fsio.replace_dir(
            self.spark, self.data_path,
            lambda tmp: df.repartition("b").write.partitionBy("b")
            .parquet(tmp))

    def _current_tv(self) -> int:
        meta = self.table._load_meta()
        return int((meta or {}).get("table_version", 0))

    # -- subclass hooks -------------------------------------------------------
    def _adopt_side(self, side: dict) -> None:
        """Adopt stored sizing/format parameters from the sidecar (runs
        BEFORE the void check so a rebuild keeps the stored format)."""

    def _recompute_dirty(self, dirty: list[int]) -> None:
        """Recompute and dynamic-overwrite the dataset partitions for
        exactly ``dirty`` (reading only those buckets)."""
        raise NotImplementedError

    def build(self) -> int:
        raise NotImplementedError

    # -- the shared maintenance contract ---------------------------------------
    def refresh(self) -> list[int]:
        """Recompute ONLY the merge-flagged dirty buckets — maintenance
        cost ∝ churn, like the merge itself.  On a table_version
        mismatch (some wholesale rewrite happened) falls back to a full
        ``build`` under the STORED format parameters.  Returns the
        buckets recomputed."""
        side = self._load_side()
        if side is not None:
            self._adopt_side(side)
        if side is None or side["table_version"] != self._current_tv():
            self.build()
            return sorted(self.table.file_stats())
        dirty = sorted(int(b) for b in side.get("dirty", []))
        if not dirty:
            return []
        self._recompute_dirty(dirty)
        side["built"] = sorted(set(side["built"]) | set(dirty))
        side["dirty"] = []
        self._save_side(side)
        return dirty
