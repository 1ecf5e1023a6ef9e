"""Product-quantization (PQ) ANN index: byte codes + ADC probes — the
memory-compression tier of the similarity-search stack.

The repo's ANN ladder (corpus/simops + operators/ivf) covers brute
cosine (exact baseline), sign-bit LSH buckets, and IVF cell pruning
(scan nprobe/K of the data).  PQ attacks the remaining 100 TB axis:
the VECTORS themselves.  A 64-dim float embedding is 256+ bytes; its PQ
code is ``n_subspaces`` small ints (8 here — 32x smaller), so the
scan side of a probe reads codes, not vectors, and the similarity math
is table lookups, not per-row float vector arithmetic:

  build:  split each vector into M subvectors; per subspace, a codebook
          of Ks entries (default: the first Ks vectors by id, the same
          deterministic stand-in IvfIndex uses; ``train_codebooks`` runs
          per-subspace sampled Lloyd's for real workloads); encode each
          vector as its per-subspace nearest codebook entry (integer L2
          on the quantized ints — exact, engine-independent).
  probe:  ADC (asymmetric distance computation): per query, ONE M x Ks
          lookup table of query-subvector-to-codebook distances; the
          approximate distance of every corpus vector is M table
          lookups over its codes — a single whole-stage-codegen
          projection over the codes table, no join, no shuffle until
          the per-query top-k window (which WindowGroupLimit
          pre-filters map-side).
  rerank: optional exact-L2 re-scoring of the top ``rerank_factor * k``
          ADC candidates against the true vectors — the standard
          recall-restoring pattern (measured at sf0.01: ADC-only
          recall@10 0.30 on uniform-random embeddings — the honest
          worst case for any quantizer — rising to 0.88 when the top
          20% is reranked; clustered corpora do far better).

Composes with IVF: pass ``cells`` (vec_id -> cell, e.g. from
IvfIndex's assignment) at build time and the codes table is written
``partitionBy(cell)``; a probe with ``cell_filter`` then reads only the
probed cells — IVF-PQ proper: partition-pruned scan of compressed
codes.

All math is the repo's integer-quantization contract (round(x*1000) as
BIGINT; one distance = three exact integer dot products), so results
are bit-identical across partitionings and engines — the corpus query
``ann_pq_topk`` (corpus/simops) runs this exact arithmetic against a
DuckDB oracle.

No reference analogue (the reference's type map rejects ARRAY columns,
mysql_firebolt_type_mapping.py:130-147); beyond-reference surface for
the LLM-training-data brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fsio

_QUANT = "transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
def _l2(a: str, b: str) -> str:
    """Integer L2^2 between two quantized subvectors (exact: |x| <= ~1e3
    per element, sums far below 2^53/2^63)."""
    return (f"{_DOT.format(a=a, b=a)} - 2 * {_DOT.format(a=a, b=b)}"
            f" + {_DOT.format(a=b, b=b)}")


class PqIndex:
    """Persisted PQ code store + codebooks over an embedding column."""

    def __init__(self, spark: SparkSession, path: str,
                 n_subspaces: int = 8, n_codes: int = 16):
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_subspaces = n_subspaces
        self.n_codes = n_codes
        fsio.recover_dir(spark, self.path)    # a crashed build's backup

    def _read_store(self, store: str) -> DataFrame:
        # schema pin (codes/codebooks layouts are fixed at build
        # time): later reads pass the schema explicitly instead of
        # paying a footer-inference job per probe (round 13, guide §1/§6)
        return fsio.read_pinned(self.spark, f"{self.path}/{store}")

    # -- shared shaping ---------------------------------------------------
    def _subvectors(self, df: DataFrame, id_col: str,
                    vec_col: str) -> DataFrame:
        """(vec_id, m, sv): quantized subvector per (vector, subspace).
        Requires len(vec) divisible by n_subspaces (checked lazily by
        slice producing short arrays -> distance mismatch in tests)."""
        m, q = self.n_subspaces, _QUANT.format(col=vec_col)
        return (df.selectExpr(f"{id_col} AS vec_id", f"{q} AS qv")
                .selectExpr("vec_id", f"explode(sequence(0, {m - 1})) AS m",
                            "qv")
                .selectExpr("vec_id", "m",
                            f"slice(qv, m * (size(qv) div {m}) + 1, "
                            f"size(qv) div {m}) AS sv"))

    def _default_codebooks(self, sub: DataFrame) -> DataFrame:
        """First n_codes vectors by id donate their subvectors — the same
        deterministic stand-in as IvfIndex's first-K centroids."""
        w = Window.partitionBy("m").orderBy("vec_id")
        donors = (sub.withColumn("rk", F.row_number().over(w))
                  .where(F.col("rk") <= self.n_codes))
        return donors.selectExpr("m", "rk - 1 AS code", "sv AS cb_sv")

    # -- build ------------------------------------------------------------
    def build(self, vectors: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding",
              codebooks: DataFrame | None = None,
              cells: DataFrame | None = None) -> None:
        """Encode the corpus and persist codes + codebooks.

        ``codebooks``: optional (m, code, cb_sv) — e.g. from
        ``train_codebooks``.  ``cells``: optional (vec_id, cell) mapping
        (e.g. IvfIndex's assignment); when given, the codes table is
        written partitionBy(cell) so probes can prune."""
        sub = self._subvectors(vectors, id_col, vec_col)
        cb = codebooks if codebooks is not None else self._default_codebooks(sub)
        dist = _l2("sv", "cb_sv")
        w_enc = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
        enc = (sub.join(F.broadcast(cb), "m")
               .selectExpr("vec_id", "m", "code", f"{dist} AS dist")
               .withColumn("rn", F.row_number().over(w_enc)).where("rn = 1")
               .select("vec_id", "m", "code"))
        codes = (enc.groupBy("vec_id")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("m", "code"))).alias("mc"))
                 .selectExpr("vec_id",
                             "transform(mc, p -> CAST(p.code AS INT)) AS codes"))
        writer = codes.write
        if cells is not None:
            codes = codes.join(cells.selectExpr("vec_id", "cell"), "vec_id")
            writer = codes.repartition("cell").write.partitionBy("cell")

        def write(tmp):
            writer.parquet(f"{tmp}/codes")
            cb.write.parquet(f"{tmp}/codebooks")

        # one swap, like IvfIndex.build: codes and codebooks commit
        # together
        fsio.replace_dir(self.spark, self.path, write)
        # a rebuild may change layout (cell partitioning, id type):
        # drop the pins
        fsio.unpin(f"{self.path}/codes")
        fsio.unpin(f"{self.path}/codebooks")

    # -- training ---------------------------------------------------------
    def train_codebooks(self, vectors: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        sample_rows: int = 100_000, max_iters: int = 8,
                        seed: int = 42) -> DataFrame:
        """Per-subspace sampled Lloyd's (L2) — real codebooks for real
        workloads; returns (m, code, cb_sv) consumable by
        ``build(codebooks=...)``.  Each iteration is one broadcast
        assignment + one (m, code, dim)-keyed mean, both bounded by the
        sample.  Unlike IVF's cosine-cell trainer (where training HURTS
        on uniform corpora, PLANS §7e), PQ training minimizes
        quantization error directly and is safe everywhere; means are
        re-quantized to the integer grid so probe math stays exact."""
        sub = self._subvectors(
            vectors.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(sample_rows), id_col, vec_col).cache()
        try:
            cb = self._default_codebooks(sub)
            dist = _l2("sv", "cb_sv")
            w_enc = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
            for _ in range(max_iters):
                assigned = (sub.join(F.broadcast(cb), "m")
                            .selectExpr("vec_id", "m", "code", "sv",
                                        f"{dist} AS dist")
                            .withColumn("rn", F.row_number().over(w_enc))
                            .where("rn = 1"))
                new_cb = (assigned
                          .select("m", "code",
                                  F.posexplode("sv").alias("pos", "x"))
                          .groupBy("m", "code", "pos")
                          .agg(F.avg("x").alias("x"))
                          .groupBy("m", "code")
                          .agg(F.array_sort(F.collect_list(
                              F.struct("pos", "x"))).alias("px"))
                          .selectExpr(
                              "m", "code",
                              # re-quantize means to the integer grid
                              "transform(px, p -> CAST(round(p.x) AS BIGINT))"
                              " AS cb_sv"))
                # codes that lost every member keep their previous entry
                kept = cb.alias("o").join(new_cb.alias("n"), ["m", "code"],
                                          "left_anti")
                cb = new_cb.unionByName(kept.select("m", "code", "cb_sv")) \
                    .localCheckpoint(eager=True)
            return cb
        finally:
            sub.unpersist()

    # -- probe ------------------------------------------------------------
    def probe(self, queries: DataFrame, top_k: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              rerank_factor: int = 0, vectors: DataFrame | None = None,
              cell_filter: list | None = None,
              exclude_self: bool = True) -> DataFrame:
        """ADC top-k per query: (query_id, vec_id, approx_dist, rank).

        With ``rerank_factor`` R > 0 (requires ``vectors``), the top R*k
        ADC candidates are re-scored with exact integer L2 against the
        true vectors and the output carries ``dist`` (exact) instead of
        ``approx_dist``.  ``cell_filter`` prunes a cell-partitioned
        codes table (IVF-PQ composition)."""
        cb = self._read_store("codebooks")
        qsub = self._subvectors(queries, id_col, vec_col) \
            .selectExpr("vec_id AS query_id", "m", "sv")
        dist = _l2("sv", "cb_sv")
        # per-query M x Ks lookup table as one nested array literal-ish
        # column: luts[m][code+1] = distance(query subvector m, codebook
        # entry code) — metadata-sized (M*Ks rows per query)
        lut = (qsub.join(F.broadcast(cb), "m")
               .selectExpr("query_id", "m", "code", f"{dist} AS d")
               .groupBy("query_id", "m")
               .agg(F.array_sort(F.collect_list(
                   F.struct("code", "d"))).alias("cd"))
               .selectExpr("query_id", "m",
                           "transform(cd, p -> p.d) AS row")
               .groupBy("query_id")
               .agg(F.array_sort(F.collect_list(
                   F.struct("m", "row"))).alias("mr"))
               .selectExpr("query_id", "transform(mr, p -> p.row) AS luts"))
        codes = self._read_store("codes")
        if cell_filter is not None:
            codes = codes.where(F.col("cell").isin(list(cell_filter)))
        # ONE projection computes every approximate distance: M array
        # lookups per row, zero joins/shuffles on the codes side
        adc = ("aggregate(zip_with(codes, luts, (c, l) -> element_at(l, c + 1)), "
               "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
        scored = (codes.crossJoin(F.broadcast(lut))
                  .selectExpr("query_id", "vec_id", f"{adc} AS approx_dist"))
        if exclude_self:
            scored = scored.where("vec_id <> query_id")
        w = Window.partitionBy("query_id").orderBy(
            F.asc("approx_dist"), F.asc("vec_id"))
        n_cand = top_k * rerank_factor if rerank_factor > 0 else top_k
        top = (scored.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= n_cand))
        if rerank_factor <= 0:
            return top.select("query_id", "vec_id", "approx_dist",
                              F.col("rank").cast("int").alias("rank"))
        if vectors is None:
            raise ValueError("rerank_factor > 0 requires `vectors`")
        q = _QUANT.format(col=vec_col)
        full = vectors.selectExpr(f"{id_col} AS vec_id", f"{q} AS qv")
        ql = queries.selectExpr(f"{id_col} AS query_id", f"{q} AS qq")
        exact = _l2("qq", "qv")
        rer = (top.select("query_id", "vec_id")
               .join(full, "vec_id").join(F.broadcast(ql), "query_id")
               .selectExpr("query_id", "vec_id", f"{exact} AS dist"))
        w2 = Window.partitionBy("query_id").orderBy(
            F.asc("dist"), F.asc("vec_id"))
        return (rer.withColumn("rank", F.row_number().over(w2))
                .where(F.col("rank") <= top_k)
                .select("query_id", "vec_id", "dist",
                        F.col("rank").cast("int").alias("rank")))

    def code_stats(self) -> dict[int, dict[int, int]]:
        """{subspace: {code: count}} occupancy — the balance gauge (a
        subspace where one code holds everything quantizes to noise;
        retrain).  One aggregation returning <= M*Ks rows."""
        rows = (self._read_store("codes")
                .selectExpr("posexplode(codes) AS (m, code)")
                .groupBy("m", "code").count().collect())
        out: dict[int, dict[int, int]] = {}
        for r in rows:
            out.setdefault(int(r["m"]), {})[int(r["code"])] = int(r["count"])
        return out
