"""IVF (inverted-file) ANN index: build once, probe many.

The corpus query ``ann_ivf_topk`` rebuilds its cell assignment per run,
which loses to brute force on small query batches (measured, PLANS.md
§7b).  This is the production form: a one-time build writes the corpus
``partitionBy(cell)``, so every probe afterwards is a partition-pruned
scan of ``nprobe/K`` of the data — the scan ratio that becomes the
wall-clock ratio at 100 TB.

Design notes (scale):
  * Centroids are a tiny table (K rows) persisted next to the index;
    probes never recompute them.  By default they are the first K
    vectors by id — a deterministic stand-in; ``train_centroids`` runs
    sample-based Lloyd's k-means for real workloads (skewed corpora
    degrade the first-K default into a few giant cells, which kills the
    nprobe/K scan-ratio claim — see ``cell_stats``).
  * Cell assignment: broadcast nested-loop over the K centroids, then a
    ``min_by`` aggregation whose partials combine map-side, so the K×
    expansion never crosses the shuffle.
  * Probe: the query×centroid affinity is computed on the (small) query
    batch only; the DISTINCT probe-cell list (≤ K values, bounded by
    centroid count, not data) becomes a literal IN-filter, which Spark
    turns into real partition pruning (`PartitionFilters: cell IN ...`).
  * All similarity math is integer-quantized (round(x*1000)) with one
    final IEEE division — deterministic across partitionings and
    engines (same contract as corpus.simops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fsio
from ..session import AQE_OFF, conf_scope

_QUANT = "transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")


def _prep(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    q = df.selectExpr(f"{id_col} AS vec_id",
                      _QUANT.format(col=vec_col) + " AS qv")
    return q.selectExpr("vec_id", "qv",
                        _DOT.format(a="qv", b="qv") + " AS norm2")


def _cosine(a: str, b: str, an: str, bn: str) -> str:
    return (f"CAST({_DOT.format(a=a, b=b)} AS DOUBLE)"
            f" / sqrt(CAST({an} AS DOUBLE) * CAST({bn} AS DOUBLE))")


class IvfIndex:
    """Cell-partitioned ANN index over an embedding column."""

    def __init__(self, spark: SparkSession, path: str,
                 n_centroids: int = 16, nprobe: int = 2):
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_centroids = n_centroids
        self.nprobe = nprobe
        fsio.recover_dir(spark, self.path)    # a crashed build's backup

    def _read_store(self, store: str) -> DataFrame:
        # schema pin (cells/centroids layouts are fixed at build
        # time): later reads pass the schema explicitly instead of
        # paying a footer-inference job per probe (round 13, guide §1/§6)
        return fsio.read_pinned(self.spark, f"{self.path}/{store}")

    # -- build ------------------------------------------------------------
    def build(self, vectors: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding",
              centroids: DataFrame | None = None) -> None:
        """One-time (or periodic-rebuild) index construction.

        ``centroids``: optional (id_col, vec_col) DataFrame of trained
        centroids; defaults to the first ``n_centroids`` vectors by id.
        """
        qv = _prep(vectors, id_col, vec_col)
        if centroids is not None:
            cents = _prep(centroids, id_col, vec_col)
        else:
            cents = qv.orderBy("vec_id").limit(self.n_centroids)
        cents = cents.selectExpr("vec_id AS cent_id", "qv AS cv",
                                 "norm2 AS cn")
        ccos = _cosine("qv", "cv", "norm2", "cn")
        aff = (qv.crossJoin(F.broadcast(cents))
               .selectExpr("vec_id", "qv", "norm2", "cent_id",
                           f"{ccos} AS ccos"))
        cells = (aff.groupBy("vec_id")
                 .agg(F.min_by(
                     F.struct(F.col("cent_id").alias("cell"), "qv", "norm2"),
                     F.struct((-F.col("ccos")).alias("nc"),
                              F.col("cent_id").alias("cid"))).alias("m"))
                 .select("vec_id", "m.cell", "m.qv", "m.norm2"))

        def write(tmp):
            cells.write.partitionBy("cell").parquet(f"{tmp}/cells")
            cents.write.parquet(f"{tmp}/centroids")

        # one swap: no old cell survives a rebuild, and cells and
        # centroids commit together
        fsio.replace_dir(self.spark, self.path, write)
        # a rebuild may change the id/vector types: drop the pins
        fsio.unpin(f"{self.path}/cells")
        fsio.unpin(f"{self.path}/centroids")

    # -- training ---------------------------------------------------------
    def train_centroids(self, vectors: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        sample_fraction: float | None = None,
                        sample_rows: int = 100_000,
                        max_iters: int = 8, tol: float = 1e-4,
                        seed: int = 42) -> DataFrame:
        """Sample-based Lloyd's k-means; returns an (id_col, vec_col)
        DataFrame of ``n_centroids`` trained centroids consumable by
        ``build(centroids=...)``.

        Scale path: pass ``sample_fraction`` so the corpus scan samples
        BEFORE anything is sorted or shuffled (at 100 TB,
        sample_fraction ≈ sample_rows / corpus_rows); the hash-order
        cap to ``sample_rows`` then sorts only the sample.  Each Lloyd's
        iteration is one broadcast cell assignment (map-side ``min_by``,
        no K× shuffle expansion) plus one (cell, dim)-keyed average whose
        partials combine map-side — both bounded by the sample, not the
        corpus.  Centroids live on the driver between iterations (K×dim
        doubles — metadata-sized, like the probe-cell list).

        Cosine-space notes: means are not re-normalized (cosine is
        scale-invariant, so normalization cannot change any assignment);
        a cell whose mean degenerates to the zero vector keeps its
        previous centroid, as does a cell that lost all members.

        WHEN to train (measured, PLANS §7e): train when the corpus is
        clustered or skewed — there the first-K default can collapse
        (duplicate-heavy head -> every vector in one cell, probes scan
        100%) and training restores balanced cells at equal recall.  Do
        NOT train on unstructured/near-uniform embeddings: converged
        means of many near-orthogonal vectors are mutually
        near-parallel (dominated by the global mean direction), cell
        assignment becomes noise, and recall@10 measurably drops vs
        first-K data vectors (0.525 vs 0.89 at nprobe=4 on the sf0.1
        corpus).  ``cell_stats()`` is the gauge: collapsed/skewed cells
        -> train; already-balanced cells -> keep data-vector centroids.
        """
        src = vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"))
        if sample_fraction is not None:
            src = src.sample(False, sample_fraction, seed)
        # deterministic pseudo-random order; sorts only the (small) sample
        sample = (src.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
                  .limit(sample_rows).cache())
        try:
            k = self.n_centroids
            cents = [row["v"] for row in sample.head(k)]
            if not cents:
                raise ValueError("cannot train centroids on an empty corpus")
            dim = len(cents[0])
            cent_schema = "cent_id INT, cv ARRAY<DOUBLE>"
            dot = ("aggregate(zip_with(v, cv, (x, y) -> x * y), "
                   "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)")
            vnorm = ("sqrt(aggregate(transform(v, x -> x * x), "
                     "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p))")
            cnorm = ("sqrt(aggregate(transform(cv, x -> x * x), "
                     "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p))")
            cos = f"{dot} / nullif({vnorm} * {cnorm}, 0.0)"
            for _ in range(max_iters):
                cdf = self.spark.createDataFrame(
                    list(enumerate(cents)), cent_schema)
                assigned = (sample.crossJoin(F.broadcast(cdf))
                            .selectExpr("vec_id", "v", "cent_id",
                                        f"{cos} AS ccos")
                            .groupBy("vec_id")
                            .agg(F.min_by(
                                F.struct(F.col("cent_id").alias("cell"), "v"),
                                F.struct((-F.col("ccos")).alias("nc"),
                                         F.col("cent_id").alias("cid"))).alias("m"))
                            .select("m.cell", "m.v"))
                # element-wise mean per cell: (cell, dim)-keyed partial avg
                means = (assigned
                         .select("cell", F.posexplode("v").alias("pos", "x"))
                         .groupBy("cell", "pos").agg(F.avg("x").alias("x"))
                         .groupBy("cell")
                         .agg(F.array_sort(F.collect_list(
                             F.struct("pos", "x"))).alias("px"))
                         .selectExpr("cell",
                                     "transform(px, p -> p.x) AS cv")
                         .collect())
                new_cents = list(cents)
                for row in means:
                    cv = row["cv"]
                    if len(cv) == dim and any(x != 0.0 for x in cv):
                        new_cents[row["cell"]] = cv
                shift = max(
                    max(abs(a - b) for a, b in zip(old, new))
                    for old, new in zip(cents, new_cents))
                cents = new_cents
                if shift < tol:
                    break
            return self.spark.createDataFrame(
                list(enumerate(cents)), cent_schema).selectExpr(
                    f"cent_id AS {id_col}", f"cv AS {vec_col}")
        finally:
            sample.unpersist()

    def cell_stats(self) -> dict[int, int]:
        """``{cell: vector count}`` of the built index — the skew probe
        for the nprobe/K scan-ratio claim (one aggregation job returning
        ≤ n_centroids rows).  A max/mean ratio near 1 means probes scan
        what the ratio promises; a giant cell means retrain."""
        rows = (self._read_store("cells")
                .groupBy("cell").count().collect())
        return {int(r["cell"]): int(r["count"]) for r in rows}

    # -- probe ------------------------------------------------------------
    def probe(self, queries: DataFrame, top_k: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              exclude_self: bool = True) -> DataFrame:
        """Top-k cosine neighbours for each query, scanning only the
        probed cells.  Returns (query_id, vec_id, cosine, rank)."""
        cents = self._read_store("centroids")
        q = _prep(queries, id_col, vec_col).selectExpr(
            "vec_id AS query_id", "qv AS qq", "norm2 AS qn")
        ccos = _cosine("qq", "cv", "qn", "cn")
        w_assign = Window.partitionBy("query_id").orderBy(
            F.desc("ccos"), F.asc("cent_id"))
        probes = (q.crossJoin(F.broadcast(cents))
                  .selectExpr("query_id", "qq", "qn", "cent_id",
                              f"{ccos} AS ccos")
                  .withColumn("crank", F.row_number().over(w_assign))
                  .where(F.col("crank") <= self.nprobe)
                  .select("query_id", "qq", "qn",
                          F.col("cent_id").alias("probe_cell")))
        # AQE paused for the probe's driver-side steps: the checkpoint is
        # a map-only projection over a broadcast cross join and the cell
        # collect is metadata-sized (≤ n_centroids rows), so per-stage
        # re-planning only multiplies scheduled jobs (round 13, same
        # rationale as the bloom/LSH probes)
        with conf_scope(self.spark, **AQE_OFF):
            probes = probes.localCheckpoint(eager=True)
            # ≤ n_centroids values — bounded by K, not by data
            cell_list = [r[0] for r in
                         probes.select("probe_cell").distinct().collect()]
        idx = (self._read_store("cells")
               .where(F.col("cell").isin(cell_list)))
        cos = _cosine("qq", "qv", "qn", "norm2")
        scored = (F.broadcast(probes)
                  .join(idx, probes.probe_cell == idx.cell)
                  .selectExpr("query_id", "vec_id", f"{cos} AS cosine"))
        if exclude_self:
            scored = scored.where(F.col("vec_id") != F.col("query_id"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("vec_id"))
        return (scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= top_k)
                .select("query_id", "vec_id", "cosine",
                        F.col("rank").cast("int").alias("rank")))
