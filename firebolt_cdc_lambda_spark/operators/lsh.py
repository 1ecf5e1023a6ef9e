"""Incremental MinHash/LSH near-duplicate index: build once, probe per
batch, append accepted docs.

The corpus query form (corpus/simops.dedup_minhash_lsh) self-dedups ONE
batch — the right shape for a one-off sweep, the wrong one for
ingestion.  At 100 TB the recurring question is "is this NEW crawl
batch a near-duplicate of anything already in the corpus?", and
re-fingerprinting the corpus per batch is O(corpus) every time.
LshIndex persists the fingerprints once and makes each probe O(batch):

    {path}/buckets/shard=N/  (band, bucket, doc_id)  — LSH postings
    {path}/sig/shard=N/      (doc_id, hs)            — shingle sets

Both stores are hash-sharded on disk (same layout idea as KeyedTable's
key buckets and IvfIndex's cells: the partition column IS the pruning
handle).  A probe:

  1. fingerprints the (small) incoming batch only;
  2. reads ONLY the bucket shards the batch's band-buckets hash into —
     a brace-alternation glob, so unprobed shards are never listed;
  3. broadcast-joins the batch's buckets against those postings to get
     candidates (∝ band collisions, never O(corpus));
  4. reads only the signature shards holding candidate docs (both
     shard lists are ≤ n_shards values — metadata-bounded collects,
     like IvfIndex's probe-cell list);
  5. verifies exact Jaccard on the stored shingle sets.

False positives cost one verification row; false negatives follow the
banding curve P(candidate) = 1-(1-j^r)^b (r=4, b=2 — texthash.LSH_BANDS).
All hashing is the shared deterministic integer arithmetic in
functions/texthash.py — bit-identical to the DuckDB-oracle-verified
corpus queries.

Reference parity note: the reference has no near-dup surface at all (its
dedup is exact-PK, lambda/handler.py:422-437); this operator is part of
the beyond-reference LLM-training-data surface the brief asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..functions.texthash import (
    CLEAN_SPARK,
    JACCARD_THRESHOLD,
    LSH_BANDS,
    MINHASH_PERMS,
    minhash_expr,
    shingle_array_expr,
)
from ..session import AQE_OFF, conf_scope


class LshIndex:
    """Persisted near-duplicate fingerprint index over a text corpus."""

    def __init__(self, spark: SparkSession, path: str, n_shards: int = 64,
                 threshold: float = JACCARD_THRESHOLD):
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_shards = n_shards
        self.threshold = threshold
        # a crashed build's backup: read as absent, it would mean "no
        # near-duplicates", and an append would start a new store
        fsio.recover_dir(spark, self.path)

    # -- fingerprinting ---------------------------------------------------
    def _fingerprints(self, docs: DataFrame, id_col: str,
                      text_col: str) -> DataFrame:
        """Per-doc fused fingerprints ``(doc_id, hs, bands)`` for a
        document set — signatures and band buckets in ONE plan, so a
        caller can materialize it once (checkpoint/cache) and derive both
        stores without re-running the shingle+minhash computation.  Docs
        whose cleaned text is shorter than one 5-gram have no shingles and
        are excluded (they can never near-dup match; exact dedup handles
        them)."""
        base = docs
        if text_col != "text":
            base = base.withColumn("text", F.col(text_col))
        sig = (base.selectExpr(f"{id_col} AS doc_id",
                               f"{CLEAN_SPARK} AS clean")
               .where("length(clean) >= 5")
               .selectExpr("doc_id",
                           f"{shingle_array_expr('clean')} AS hs"))
        mins = [F.expr(minhash_expr("hs", a, b)).alias(f"mh{k}")
                for k, (a, b) in enumerate(MINHASH_PERMS)]
        with_mins = sig.select("doc_id", "hs", *mins)
        band_structs = [
            F.struct(F.lit(bi).alias("band"),
                     F.concat_ws("-", *[F.col(f"mh{i}").cast("string")
                                        for i in idxs]).alias("bucket"))
            for bi, idxs in enumerate(LSH_BANDS)
        ]
        return with_mins.select("doc_id", "hs",
                                F.array(*band_structs).alias("bands"))

    def _sig_of(self, fused: DataFrame) -> DataFrame:
        return fused.select("doc_id", "hs")

    def _buckets_of(self, fused: DataFrame) -> DataFrame:
        return (fused.select("doc_id", F.explode("bands").alias("bb"))
                .select("doc_id", "bb.band", "bb.bucket")
                .withColumn("shard", self._bucket_shard("band", "bucket")))

    def _bucket_shard(self, band: str, bucket: str):
        return F.pmod(F.xxhash64(F.col(band), F.col(bucket)),
                      F.lit(self.n_shards))

    def _doc_shard(self, doc_id: str):
        return F.pmod(F.xxhash64(F.col(doc_id)), F.lit(self.n_shards))

    def fingerprints(self, docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
        """Public fused fingerprints ``(doc_id, hs, bands)`` — compute
        ONCE per batch (localCheckpoint it) and feed the ``*_fused``
        primitives below: an ingestion gate that self-dedups, probes,
        and appends would otherwise run the shingle+minhash work three
        times over the same batch."""
        return self._fingerprints(docs, id_col, text_col)

    # -- build / ingest ---------------------------------------------------
    def _write_fused(self, fused: DataFrame, root: str,
                     mode: str | None = None) -> None:
        (self._sig_of(fused)
         .withColumn("shard", self._doc_shard("doc_id"))
         .repartition("shard")
         .write.mode(mode).partitionBy("shard").parquet(f"{root}/sig"))
        (self._buckets_of(fused).repartition("shard")
         .write.mode(mode).partitionBy("shard").parquet(f"{root}/buckets"))

    def build(self, docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> None:
        """One-time full-corpus fingerprinting (or periodic re-build,
        which doubles as compaction of append-accumulated files).  Both
        stores commit together through one ``fsio.replace_dir``: no
        old shard survives, and a crash leaves the old index whole."""
        # cache the fused fingerprints: both store writes read them, and
        # without it each write re-runs the shingle+minhash computation
        # over the whole input (add caches for the same reason)
        fused = self._fingerprints(docs, id_col, text_col).cache()
        try:
            fsio.replace_dir(self.spark, self.path,
                             lambda tmp: self._write_fused(fused, tmp))
        finally:
            fused.unpersist()
        # a rebuild may change the doc_id type: drop the pins
        fsio.unpin(f"{self.path}/sig")
        fsio.unpin(f"{self.path}/buckets")

    def add(self, docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> None:
        """Append a batch's fingerprints (after the caller accepted it —
        typically ``docs`` minus ``probe`` matches).  Appends accumulate
        small files per shard; a periodic ``build`` over the full corpus
        re-compacts, exactly like KeyedTable's rebucket maintenance."""
        fused = self._fingerprints(docs, id_col, text_col).cache()
        try:
            self.add_fused(fused)
        finally:
            fused.unpersist()

    def add_fused(self, fused: DataFrame) -> None:
        """``add`` from precomputed ``fingerprints()`` output — the
        zero-recompute path for gates that already materialized the
        batch's fingerprints."""
        self._check_doc_type(fused.schema["doc_id"].dataType)
        self._write_fused(fused, self.path, "append")

    def _check_doc_type(self, doc_type) -> None:
        """Raise before an append whose ``doc_id`` type differs from the
        stored one: both stores' layouts are pinned from what the build
        wrote, so a mixed-type append would break every later probe."""
        from pyspark.errors import AnalysisException
        try:
            sig = fsio.read_pinned(self.spark, f"{self.path}/sig")
        except AnalysisException as exc:
            if fsio.is_absent(exc):
                return          # nothing built yet: this append types it
            raise
        stored = sig.schema["doc_id"].dataType
        if doc_type != stored:
            raise ValueError(
                f"doc_id arrived as {doc_type.simpleString()} but the "
                f"index at {self.path} stores "
                f"{stored.simpleString()}: cast the batch's ids, or "
                "rebuild the index")

    # -- probe ------------------------------------------------------------
    def _read_shards(self, store: str, shards: list[int]) -> DataFrame | None:
        """Pruned read of one store: only the named shard dirs are
        globbed (missing dirs simply don't match); None = nothing there.

        ONLY a verifiably-absent path maps to None.  Every other failure
        (corrupt parquet, permission/transient object-store errors)
        re-raises: treating a real read error as "no near-duplicates"
        would make ``filter_new`` silently admit duplicate documents —
        a data-quality hole at the exact place this index exists to
        guard."""
        if not shards:
            return None
        from pyspark.errors import AnalysisException
        glob = ",".join(str(s) for s in sorted(shards))
        # schema pin: both stores' layouts are fixed at build time (sig:
        # doc_id/hs, buckets: doc_id/band/bucket, + the shard partition
        # dir; append keeps them), so after the first probe the pruned
        # shard reads pass the schema explicitly instead of paying a
        # footer-inference job per probe (round 13, guide §1/§6)
        root = f"{self.path}/{store}"
        try:
            return fsio.read_pinned(self.spark, root,
                                    f"{root}/shard={{{glob}}}",
                                    basePath=root)
        except AnalysisException as exc:
            # PATH_NOT_FOUND: store absent or no probed shard written yet.
            # UNABLE_TO_INFER_SCHEMA: shard dirs exist but hold no files
            # (e.g. an aborted first write) — equally "nothing there".
            if fsio.is_absent(exc):
                return None
            raise

    def probe(self, docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text",
              threshold: float | None = None) -> DataFrame:
        """Near-dup matches of ``docs`` against the index:
        (batch_doc_id, corpus_doc_id, jaccard) with jaccard >= threshold.
        A doc already indexed under the same id matches itself at 1.0."""
        # ONE materialization of the batch fingerprints (batch-sized);
        # sig and buckets are free projections of it.  AQE paused: the
        # checkpoint's physical plan is a map-only fingerprint projection
        # with nothing for per-stage re-planning to improve (round 13,
        # same rationale as the merge path / bloom probe).
        with conf_scope(self.spark, **AQE_OFF):
            fused = (self._fingerprints(docs, id_col, text_col)
                     .localCheckpoint(eager=True))
        return self.probe_fused(fused, threshold)

    def probe_fused(self, fused: DataFrame,
                    threshold: float | None = None) -> DataFrame:
        """``probe`` from precomputed (ideally checkpointed)
        ``fingerprints()`` output."""
        threshold = self.threshold if threshold is None else threshold
        sig = self._sig_of(fused)
        buckets = self._buckets_of(fused)
        idt = sig.schema["doc_id"].dataType.simpleString()
        empty = self.spark.createDataFrame(
            [], f"batch_doc_id {idt}, corpus_doc_id {idt}, jaccard DOUBLE")

        # AQE paused for the probe's driver-side steps: the shard-id
        # collects are metadata-sized aggregations over a checkpointed
        # micro-batch and the candidate join broadcast is explicit, so
        # adaptive per-stage re-planning only multiplies the scheduled
        # job count (measured round 13: the bloom probe's identical
        # shape went 5 jobs -> 1 with the same pause)
        with conf_scope(self.spark, **AQE_OFF):
            shard_rows = buckets.select("shard").distinct().collect()
            postings = self._read_shards(
                "buckets", [int(r[0]) for r in shard_rows])
            if postings is None:
                return empty
            bb = buckets.selectExpr("doc_id AS batch_doc_id", "band",
                                    "bucket")
            cand = (postings.join(F.broadcast(bb), ["band", "bucket"])
                    .selectExpr("batch_doc_id", "doc_id AS corpus_doc_id")
                    .distinct()
                    .withColumn("cshard", self._doc_shard("corpus_doc_id"))
                    .localCheckpoint(eager=True))
            cshard_rows = cand.select("cshard").distinct().collect()
        corpus_sig = self._read_shards(
            "sig", [int(r[0]) for r in cshard_rows])
        if corpus_sig is None:
            return empty
        c = corpus_sig.selectExpr("doc_id AS corpus_doc_id", "hs AS c_hs")
        b = sig.selectExpr("doc_id AS batch_doc_id", "hs AS b_hs")
        inter = "size(array_intersect(b_hs, c_hs))"
        jac = (f"CAST({inter} AS DOUBLE) / "
               f"(size(b_hs) + size(c_hs) - {inter})")
        return (c.join(F.broadcast(cand.drop("cshard")), "corpus_doc_id")
                .join(F.broadcast(b), "batch_doc_id")
                .selectExpr("batch_doc_id", "corpus_doc_id", f"{jac} AS jaccard")
                .where(F.col("jaccard") >= threshold))

    def filter_new(self, docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   threshold: float | None = None) -> DataFrame:
        """``docs`` minus every row near-dup-matching the corpus — the
        ingestion-gate composition of ``probe`` (follow with ``add``)."""
        matches = self.probe(docs, id_col, text_col, threshold)
        dup_ids = matches.select(
            F.col("batch_doc_id").alias(id_col)).distinct()
        return docs.join(F.broadcast(dup_ids), [id_col], "left_anti")

    def self_dedup(self, docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   threshold: float | None = None) -> DataFrame:
        """INTRA-batch near-dup filter: ``docs`` minus every row that
        near-dup-matches a smaller-id row of the SAME batch.  ``probe``
        only sees the persisted corpus, so without this two near-duplicate
        docs arriving in one file would both pass ``filter_new`` — the
        common crawl-drop case of the same page fetched twice per crawl.

        Keep rule (deterministic, replay-stable): a doc is dropped iff it
        matches ANY batch peer with a smaller id.  Guarantee: the admitted
        set is pairwise near-dup-free (if kept X ~ kept Y with X < Y, the
        (X, Y) pair would have dropped Y).  On a transitive chain
        A~B, B~C, A!~C this over-rejects C relative to one-at-a-time
        sequential admission — the safe side for a dedup gate.

        Same banded-candidate shape as the corpus query form
        (corpus/simops.dedup_minhash_lsh): candidates ∝ band collisions
        within the batch, never O(batch²)."""
        fused = (self._fingerprints(docs, id_col, text_col)
                 .localCheckpoint(eager=True))
        dup_ids = self.self_dup_ids(fused, threshold) \
            .selectExpr(f"doc_id AS {id_col}")
        return docs.join(F.broadcast(dup_ids), [id_col], "left_anti")

    def self_dup_ids(self, fused: DataFrame,
                     threshold: float | None = None) -> DataFrame:
        """The ids ``self_dedup`` would drop, from precomputed
        ``fingerprints()`` output: one ``doc_id`` column, every doc that
        near-dup-matches a smaller-id doc of the same batch."""
        threshold = self.threshold if threshold is None else threshold
        b = self._buckets_of(fused).drop("shard")
        cand = (b.selectExpr("doc_id AS keep_id", "band", "bucket")
                .join(b.selectExpr("doc_id AS drop_id", "band", "bucket"),
                      ["band", "bucket"])
                .where("keep_id < drop_id")
                .select("keep_id", "drop_id").distinct())
        sig = self._sig_of(fused)
        inter = "size(array_intersect(k_hs, d_hs))"
        jac = (f"CAST({inter} AS DOUBLE) / "
               f"(size(k_hs) + size(d_hs) - {inter})")
        return (cand
                .join(sig.selectExpr("doc_id AS keep_id", "hs AS k_hs"),
                      "keep_id")
                .join(sig.selectExpr("doc_id AS drop_id", "hs AS d_hs"),
                      "drop_id")
                .where(F.expr(jac) >= threshold)
                .select("drop_id").toDF("doc_id").distinct())

    def shard_stats(self) -> dict[str, dict[int, int]]:
        """{store: {shard: file count}} from a pure FS listing (no Spark
        job) — the append-accumulation gauge that says when to re-build."""
        from .. import fsio
        out: dict[str, dict[int, int]] = {}
        for store in ("sig", "buckets"):
            stats: dict[int, int] = {}
            root = f"{self.path}/{store}"
            for name in fsio.list_names(self.spark, root):
                if not name.startswith("shard="):
                    continue
                shard = int(name[len("shard="):])
                stats[shard] = sum(
                    1 for f in fsio.list_names(self.spark, f"{root}/{name}")
                    if f.endswith(".parquet"))
            out[store] = stats
        return out
