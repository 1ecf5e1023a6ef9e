"""IvfIndex: build-once / probe-many ANN over the embeddings testdata.

The probe must be EXACT within its probed cells (the approximation is
only in which cells are visited), its plan must show real partition
pruning, and results must be deterministic."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from firebolt_cdc_lambda_spark.operators.ivf import IvfIndex, _cosine, _prep

SF = "/root/testdata/sf0.001"


def _vectors(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivf_build_and_probe_exact_within_cells(spark, tmp_path):
    vecs = _vectors(spark)
    n = vecs.count()
    ivf = IvfIndex(spark, str(tmp_path / "ivf"), n_centroids=8, nprobe=2)
    ivf.build(vecs)

    cells = spark.read.parquet(str(tmp_path / "ivf" / "cells"))
    assert cells.count() == n                       # every vector indexed
    assert cells.select("cell").distinct().count() <= 8

    queries = vecs.where(F.col("vec_id") < 3)
    got = ivf.probe(queries, top_k=5).collect()
    assert {r["query_id"] for r in got} == {0, 1, 2}
    assert all(1 <= r["rank"] <= 5 for r in got)

    # exactness within probed cells: recompute brute-force cosine over
    # exactly the vectors in each query's probed cells
    q = _prep(queries, "vec_id", "embedding").selectExpr(
        "vec_id AS query_id", "qv AS qq", "norm2 AS qn")
    cos = _cosine("qq", "qv", "qn", "norm2")
    cents = spark.read.parquet(str(tmp_path / "ivf" / "centroids"))
    ccos = _cosine("qq", "cv", "qn", "cn")
    w_assign = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("cent_id"))
    probe_cells = (q.crossJoin(F.broadcast(cents))
                   .selectExpr("query_id", "cent_id", f"{ccos} AS ccos")
                   .withColumn("crank", F.row_number().over(w_assign))
                   .where(F.col("crank") <= 2)
                   .select("query_id", F.col("cent_id").alias("cell")))
    expected = (q.join(probe_cells, "query_id")
                .join(cells, "cell")
                .where(F.col("vec_id") != F.col("query_id"))
                .selectExpr("query_id", "vec_id", f"{cos} AS cosine")
                .withColumn("rank", F.row_number().over(
                    Window.partitionBy("query_id")
                    .orderBy(F.desc("cosine"), F.asc("vec_id"))))
                .where(F.col("rank") <= 5).collect())
    key = lambda rows: sorted((r["query_id"], r["vec_id"], r["rank"]) for r in rows)
    assert key(got) == key(expected)


def test_ivf_probe_plan_prunes_partitions(spark, tmp_path):
    vecs = _vectors(spark)
    ivf = IvfIndex(spark, str(tmp_path / "ivf2"), n_centroids=8, nprobe=1)
    ivf.build(vecs)
    out = ivf.probe(vecs.where(F.col("vec_id") == 0), top_k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # nprobe=1, single query -> exactly one cell scanned
    import re
    m = re.search(r"PartitionFilters: \[.*?cell[^\]]*\]", plan)
    assert m, plan[:2000]
    # deterministic: same probe twice -> identical rows
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, ivf.probe(vecs.where(F.col("vec_id") == 0), top_k=3).collect()))
    assert a == b


def _cosine_py(u, v):
    dot = sum(x * y for x, y in zip(u, v))
    nu = sum(x * x for x in u) ** 0.5
    nv = sum(x * x for x in v) ** 0.5
    return dot / (nu * nv)


def test_trained_centroids_beat_first_k_on_skewed_corpus(spark, tmp_path):
    """Skewed corpus = duplicate-heavy head (realistic for LLM training
    data pre-dedup): the first-K default picks K IDENTICAL vectors as
    centroids, every vector ties, and the whole corpus collapses into
    one cell — probes scan 100%.  train_centroids (hash-order init +
    Lloyd's) must restore balanced cells with recall no worse."""
    import random
    rng = random.Random(13)
    dim = k = 8
    per_cluster = 45
    rows = []
    # ids 0..7: identical vectors -> the first-K default centroid set
    for vid in range(k):
        rows.append((vid, [1.0] + [0.0] * (dim - 1)))
    # 8 well-separated clusters of 45
    for c in range(k):
        for _ in range(per_cluster):
            v = [0.15 * (rng.random() * 2 - 1) for _ in range(dim)]
            v[c] += 1.0
            rows.append((len(rows), v))
    vecs = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    n = len(rows)

    first_k = IvfIndex(spark, str(tmp_path / "firstk"), n_centroids=k, nprobe=2)
    first_k.build(vecs)
    trained_ivf = IvfIndex(spark, str(tmp_path / "trained"), n_centroids=k, nprobe=2)
    cents = trained_ivf.train_centroids(vecs, max_iters=10)
    trained_ivf.build(vecs, centroids=cents)

    # cell balance: first-K degenerates to one full cell; trained must
    # spread the corpus (max cell at least 3x smaller, several live cells)
    fk_stats, tr_stats = first_k.cell_stats(), trained_ivf.cell_stats()
    assert max(fk_stats.values()) == n          # the degenerate single cell
    assert max(tr_stats.values()) * 3 <= n
    assert len(tr_stats) >= 4

    # recall@10 vs exact brute force, same tie order as the engine
    qids = [20, 60, 100, 140, 180, 220, 260, 300, 340, 360]
    queries = vecs.where(F.col("vec_id").isin(qids))
    by_id = dict(rows)
    truth = {}
    for q in qids:
        scored = sorted(
            ((-_cosine_py(by_id[q], v), vid) for vid, v in rows if vid != q))
        truth[q] = {vid for _, vid in scored[:10]}

    def recall(index):
        got = {}
        for r in index.probe(queries, top_k=10).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(got.get(q, set()) & truth[q]) / 10 for q in qids) / len(qids)

    r_fk, r_tr = recall(first_k), recall(trained_ivf)
    assert r_tr >= 0.9
    assert r_tr >= r_fk - 0.01   # no worse (first-K scans 100% of the corpus)


def test_ivf_custom_centroids(spark, tmp_path):
    vecs = _vectors(spark)
    cents = vecs.where(F.col("vec_id").isin([10, 20, 30, 40]))
    ivf = IvfIndex(spark, str(tmp_path / "ivf3"), n_centroids=4, nprobe=2)
    ivf.build(vecs, centroids=cents)
    stored = {r["cent_id"] for r in
              spark.read.parquet(str(tmp_path / "ivf3" / "centroids")).collect()}
    assert stored == {10, 20, 30, 40}
    got = ivf.probe(vecs.where(F.col("vec_id") < 2), top_k=3)
    assert got.count() == 6                         # 2 queries x top-3


def test_probe_reads_a_rebuild_made_through_another_handle(
        spark, tmp_path, dynamic_overwrite):
    """Schema pins are per path, not per handle: after handle B rebuilds
    the index with string ids, handle A — whose earlier probe pinned
    the integer-id layout — must probe the new layout and return B's
    ids.  Under a dynamic session default, a rebuild must also leave
    no cell of the integer-id build behind."""
    path = str(tmp_path / "ivf")
    vecs = _vectors(spark)
    a = IvfIndex(spark, path, n_centroids=4, nprobe=2)
    a.build(vecs)
    assert a.probe(vecs.where(F.col("vec_id") < 2), top_k=3).count() > 0
    svecs = vecs.selectExpr("concat('v', CAST(vec_id AS STRING)) AS vec_id",
                            "embedding")
    b = IvfIndex(spark, path, n_centroids=4, nprobe=2)
    b.build(svecs)
    queries = svecs.where(F.col("vec_id").isin("v0", "v1"))
    key = lambda rows: sorted((r["query_id"], r["vec_id"], r["rank"])
                              for r in rows)
    got = key(a.probe(queries, top_k=3).collect())
    assert got and all(isinstance(vid, str) for _, vid, _ in got)
    assert got == key(b.probe(queries, top_k=3).collect())
