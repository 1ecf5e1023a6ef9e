"""Physical-plan CONTRACTS: the shapes PLANS.md documents, asserted.

These are the plans the engine's 100 TB story depends on (broadcasts
bounded by the micro-batch, structural partition pruning, map-side
top-k, pushed filters).  A refactor that silently flips one of them to
a shuffle join / full scan would pass every value-correctness test and
only show up as a 100x regression at scale — so the shapes themselves
are pinned here.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import SF_DIR


def executed(df) -> str:
    """Final executed-plan string (runs the plan so AQE finalizes)."""
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(spark, df) -> str:
    """explain('formatted') as a string (scan detail: pushed/partition
    filters, ReadSchema)."""
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_merge_joins_all_broadcast_no_smj(spark):
    """merge_cdc's contract (PLANS §4): every join broadcasts the
    micro-batch side — zero SortMergeJoin, zero CartesianProduct, and
    the target side never exchanges."""
    from firebolt_cdc_lambda_spark.operators.merge import merge_cdc
    import datetime as dt
    target = spark.range(5000).selectExpr(
        "id", "CAST(id AS DOUBLE) AS bal", "md5(CAST(id AS STRING)) AS pay")
    stg = spark.createDataFrame([
        Row(id=i, bal=1.0, pay="x", Op="U" if i % 3 else "D",
            load_timestamp=dt.datetime(2024, 1, 2)) for i in range(40)])
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # as _merge_impl runs it
    try:
        plan = executed(merge_cdc(target, stg, ["id"]))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3   # outer + semi + anti


def test_dedup_single_exchange_with_windowgrouplimit(spark):
    """The dedup window (PLANS §1): ONE shuffle on the key hash, and
    WindowGroupLimit pre-filters rank-1 candidates map-side."""
    from firebolt_cdc_lambda_spark.operators.dedup import deduplicate
    import datetime as dt
    df = spark.range(2000).selectExpr(
        "id % 500 AS k", "id AS v", "'U' AS Op",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS load_timestamp")
    plan = executed(deduplicate(df, ["k"]))
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q1_filters_pushed_and_columns_pruned(spark):
    """q1 (PLANS §3): the date filter reaches the Parquet scan and the
    scan reads a strict subset of lineitem's columns."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["q1_pricing_summary"].fn(spark, SF_DIR)
    plan = formatted(spark, df)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_comment" not in read[0]   # pruned


def test_q5_dimensions_broadcast(spark):
    """q5 (PLANS §2): every dimension side broadcasts; the fact table
    join chain contains no cartesian products and at most the single
    documented shuffle join (lineitem x orders)."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["q5_nation_revenue"].fn(spark, SF_DIR)
    plan = executed(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_lsh_probe_scans_only_probed_shards(spark, tmp_path):
    """LshIndex.probe (PLANS §5): pruned shard reads are STRUCTURAL —
    the scan location is the brace-alternation glob of probed shards,
    never the store root."""
    from firebolt_cdc_lambda_spark.operators.lsh import LshIndex
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ix = LshIndex(spark, str(tmp_path / "lsh"), n_shards=16)
    ix.build(docs)
    batch = docs.where("doc_id % 20 = 0").selectExpr(
        "doc_id + 1000000 AS doc_id", "substr(text, 4) AS text")
    probe = ix.probe(batch)
    plan = formatted(spark, probe)
    # every parquet scan of the index stores goes through a shard= glob
    locs = [ln for ln in plan.splitlines()
            if "Location" in ln and ("buckets" in ln or "/sig" in ln)]
    assert locs, "expected index-store scans in the plan"
    assert all("shard=" in ln for ln in locs)


def test_ivf_probe_partition_pruned(spark, tmp_path):
    """IvfIndex.probe (PLANS §5b): the probed-cell IN-list lands as a
    PARTITION filter on the cell-partitioned store (real pruning, not a
    post-scan filter)."""
    from firebolt_cdc_lambda_spark.operators.ivf import IvfIndex
    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ivf = IvfIndex(spark, str(tmp_path / "ivf"), n_centroids=8, nprobe=2)
    ivf.build(vecs)
    probe = ivf.probe(vecs.where("vec_id < 3"), top_k=5)
    plan = formatted(spark, probe)
    part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln and "IN" in ln.upper() for ln in part)


def test_pq_probe_no_smj_topk_prefiltered(spark, tmp_path):
    """PqIndex.probe (PLANS §5d): ADC runs without any sort-merge join
    and the per-query top-k is WindowGroupLimit-pre-filtered."""
    from firebolt_cdc_lambda_spark.operators.pq import PqIndex
    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ix = PqIndex(spark, str(tmp_path / "pq"))
    ix.build(vecs)
    probe = ix.probe(vecs.where("vec_id < 3"), top_k=5)
    plan = executed(probe)
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_ivfpq_probe_cell_pruned_and_rerank_no_smj(spark, tmp_path):
    """IVF-PQ composition (PLANS §5d): a cell_filter probe prunes the
    cell-partitioned CODES store structurally (PartitionFilters IN-list,
    not a post-scan filter), and the exact-rerank path stays broadcast-
    only — no SortMergeJoin anywhere in the executed plan."""
    from firebolt_cdc_lambda_spark.operators.ivf import IvfIndex
    from firebolt_cdc_lambda_spark.operators.pq import PqIndex
    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ivf = IvfIndex(spark, str(tmp_path / "ivf"), n_centroids=8, nprobe=2)
    ivf.build(vecs)
    assignment = (spark.read.parquet(str(tmp_path / "ivf" / "cells"))
                  .select("vec_id", "cell"))
    ix = PqIndex(spark, str(tmp_path / "pq"))
    ix.build(vecs, cells=assignment)
    probe = ix.probe(vecs.where("vec_id < 3"), top_k=5,
                     rerank_factor=3, vectors=vecs, cell_filter=[0, 1, 2])
    fmt = formatted(spark, probe)
    part = [ln for ln in fmt.splitlines()
            if "PartitionFilters" in ln and "/codes" in fmt]
    assert any("cell" in ln and "IN" in ln.upper() for ln in part)
    plan = executed(probe)
    assert "SortMergeJoin" not in plan
    assert "dist" in probe.columns and "approx_dist" not in probe.columns


def test_cms_topk_take_ordered_no_smj(spark):
    """text_cms_heavy_hitters (COVERAGE: CMS row): the top-k must be
    TakeOrderedAndProject (never a global sort), sketch probes must
    broadcast (no SortMergeJoin), and the token aggregation must
    partial-combine map-side."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["text_cms_heavy_hitters"].fn(spark, SF_DIR)
    plan = executed(df)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan or "partial" in plan.lower()


def test_prep_funnel_no_joins_single_pass(spark):
    """corpus_prep_pipeline (COVERAGE: composed funnel row): the whole
    dedup -> quality -> sample funnel is window + aggregate shapes over
    ONE scan chain — no joins of any kind, and the final aggregation
    partial-combines map-side."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["corpus_prep_pipeline"].fn(spark, SF_DIR)
    plan = executed(df)
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, join
    assert "HashAggregate" in plan and "Window" in plan


def test_kmeans_step_assignment_is_map_only(spark):
    """embedding_kmeans_step (COVERAGE: Lloyd-step row): centroid
    assignment is a literal-LUT projection — NO join of any kind in the
    plan, and the only exchange is the final K*dim-keyed aggregation
    (which partial-combines map-side), so shuffle traffic is bounded by
    partitions * K * dim regardless of corpus size."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["embedding_kmeans_step"].fn(spark, SF_DIR)
    plan = executed(df)
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, join
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "partial" in plan.lower()


def test_hard_negatives_broadcast_queries_map_side_topk(spark):
    """ann_hard_negatives (COVERAGE: hard-negative row): the query
    batch is BROADCAST against the corpus scan (never a shuffle join),
    the label filter stays a codegen predicate, and the per-query top-k
    is a WindowGroupLimit — so the corpus side streams through ONE scan
    with map-side partial top-k regardless of k."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["ann_hard_negatives"].fn(spark, SF_DIR)
    plan = executed(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_retention_cohorts_no_join_two_exchanges(spark):
    """events_retention_cohorts (COVERAGE: cohort-retention row): the
    per-user cohort MIN rides ONE user_id window exchange (no
    self-join back to the events), and the (cohort, offset) re-agg is
    the only other exchange, partial-combined map-side."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["events_retention_cohorts"].fn(spark, SF_DIR)
    plan = executed(df)
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, join
    assert plan.count("Exchange") <= 3, plan   # user_id + re-agg (+AQE read)
    assert "Window" in plan and "partial" in plan.lower()


def test_trend_ols_single_exchange_no_join(spark):
    """orders_trend_ols (COVERAGE: in-database regression row): the five
    moment sums ride ONE map-side-combined groupBy over the scan — no
    join of any kind, one exchange over a handful of groups, and the
    closed forms are post-aggregation projections."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["orders_trend_ols"].fn(spark, SF_DIR)
    plan = executed(df)
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, join
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "partial" in plan.lower()


def test_drift_jsd_codegen_compiles_and_broadcast_totals(spark):
    """corpus_drift_jsd (COVERAGE: JS-divergence row): the token
    aggregation is map-side-combined (one data-sized exchange), the
    1-row totals side BROADCASTS (the only join), and the three
    pinned-log2 projection columns stay inside whole-stage codegen —
    the inlined form overflowed Janino's 64 KB method limit and fell
    back to interpreted eval, which this contract pins out."""
    from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES
    df = ALL_QUERIES["corpus_drift_jsd"].fn(spark, SF_DIR)
    plan = executed(df)
    for join in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert join not in plan, join
    assert "BroadcastExchange" in plan          # the 1-row totals
    assert "partial" in plan.lower()            # map-side token combine
    # codegen health, asserted the direct way: with fallback disabled, a
    # generated method over Janino's 64 KB limit raises instead of
    # silently demoting to interpreted eval (~10x slower)
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        fresh = ALL_QUERIES["corpus_drift_jsd"].fn(spark, SF_DIR)
        assert fresh.count() == 1
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_clone_read_union_of_scans_no_exchange(spark, tmp_path):
    """Shallow-clone read (round 12): the multi-root resolution must
    stay a UNION of plain file scans — one whole-stage-codegen leg per
    root, columns pruned at each scan, and NO Exchange (a shuffle here
    would mean the root grouping grew a repartition).  A clone-local
    full rewrite collapses the plan back to a single local scan."""
    from pyspark.sql import Row
    from firebolt_cdc_lambda_spark.operators.merge import KeyedTable

    src = KeyedTable(spark, str(tmp_path / "src"), ["k"], num_buckets=4,
                     versioned=True)
    src.init(spark.createDataFrame(
        [Row(k=i, v=f"v{i}", w=i * 1.0) for i in range(20)]))
    c = src.clone(str(tmp_path / "c"))
    c.merge_batch(spark.createDataFrame([Row(k=1, v="x", w=9.0,
                                             Op="U")]))
    df = c.read().select("k", "v")           # w pruned
    plan = executed(df)
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan parquet") == 2, plan   # local + source
    detail = formatted(spark, df)
    # column pruning reaches BOTH roots' scans
    assert detail.count("ReadSchema: struct<k:bigint,v:string>") == 2, \
        detail
    # a clone-local full entry extinguishes the foreign leg
    c.rewrite(c.snapshot_for_rewrite())
    plan2 = executed(c.read().select("k", "v"))
    assert plan2.count("FileScan parquet") == 1, plan2
    assert "Exchange" not in plan2, plan2


# -- per-file merge: every stage as wide as its input ---------------------

def _write_cdc_file(path, n, key_offset=0, op="U"):
    """One small DMS-shaped CDC file, written by pyarrow in row order."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq
    ts = dt.datetime(2024, 1, 2)
    pq.write_table(pa.table({
        "id": pa.array([key_offset + i for i in range(n)], pa.int64()),
        "v": [f"v{i}" for i in range(n)],
        "Op": [op] * n,
        "load_timestamp": pa.array([ts] * n, pa.timestamp("us")),
    }), path)
    return path


def _capture(monkeypatch, cls, method, sink):
    """Record the executed plan of every DataFrame that ``cls.method``
    runs (a ``first()`` or a ``parquet()`` write) while patched."""
    orig = getattr(cls, method)

    def spy(self, *a, **kw):
        out = orig(self, *a, **kw)
        df = getattr(self, "_df", self)
        sink.append(df._jdf.queryExecution().executedPlan().toString())
        return out
    monkeypatch.setattr(cls, method, spy)


def test_read_cdc_files_one_file_no_exchange(spark, tmp_path):
    """Staging keeps the scan's partitioning: ingestion_seq is the
    Parquet row index, so stamping it shuffles nothing."""
    from firebolt_cdc_lambda_spark.sources.ingest import read_cdc_files
    f = _write_cdc_file(str(tmp_path / "a.parquet"), 30)
    df = read_cdc_files(spark, f)
    assert "Exchange" not in executed(df)
    assert df.rdd.getNumPartitions() == 1


def test_merge_fused_agg_no_hash_exchange(spark, tmp_path, monkeypatch):
    """The merge's fused aggregation (touched buckets, row count,
    dedup-bypass key count) on a one-file staging runs with no
    hashpartitioning exchange: no window on the file name, no distinct
    exchange on the keys."""
    from pyspark.sql.classic.dataframe import DataFrame
    from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
    from firebolt_cdc_lambda_spark.sources.ingest import read_cdc_files
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=16)
    kt.init(spark.range(100).selectExpr("id", "'x' AS v"))
    staging = read_cdc_files(
        spark, _write_cdc_file(str(tmp_path / "a.parquet"), 30))
    plans: list[str] = []
    _capture(monkeypatch, DataFrame, "first", plans)
    kt.merge_raw_batch(staging)
    fused = [p for p in plans if "collect_set" in p and "_bucket" in p]
    assert fused, plans
    assert all("hashpartitioning" not in p for p in fused), fused[0]


@pytest.mark.parametrize("versioned, rewrite", [
    pytest.param(False, "merge_raw_batch", id="False"),
    pytest.param(True, "merge_raw_batch", id="True"),
    pytest.param(False, "fold_deltas", id="fold_deltas-False"),
    pytest.param(True, "fold_deltas", id="fold_deltas-True"),
    pytest.param(False, "fold_delete_vectors",
                 id="fold_delete_vectors-False")])
def test_commit_merge_shuffle_sized_to_touched_buckets(
        spark, tmp_path, monkeypatch, versioned, rewrite):
    """Every bucket rewrite (a merge, a delta-log fold, a delete-vector
    fold) shuffles its write to min(touched buckets,
    defaultParallelism) partitions, not spark.sql.shuffle.partitions,
    and still writes exactly one file per touched bucket."""
    import re
    from pyspark.sql.readwriter import DataFrameWriter
    from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
    from firebolt_cdc_lambda_spark.sources.ingest import read_cdc_files
    cores = spark.sparkContext.defaultParallelism
    mode = {"fold_deltas": {"delta_upserts": True},
            "fold_delete_vectors": {"delete_vectors": True}}
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=64,
                    versioned=versioned, **mode.get(rewrite, {}))
    kt.init(spark.range(1000).selectExpr("id", "'x' AS v"))
    op = "D" if rewrite == "fold_delete_vectors" else "U"
    for n_keys, name in ((2, "small"), (300, "wide")):
        staging = read_cdc_files(spark, _write_cdc_file(
            str(tmp_path / f"{name}.parquet"), n_keys, key_offset=7, op=op))
        touched = len({r[0] for r in kt._with_bucket(staging)
                       .select("_bucket").collect()})
        if rewrite == "merge_raw_batch":
            run = lambda: kt.merge_raw_batch(staging)[0]  # noqa: E731
        else:
            kt.merge_raw_batch(staging)     # into the log / the vectors
            run = getattr(kt, rewrite)
        plans: list[str] = []
        _capture(monkeypatch, DataFrameWriter, "parquet", plans)
        assert run() == touched
        monkeypatch.undo()
        widths = {int(m) for p in plans for m in re.findall(
            r"hashpartitioning\(_bucket#\d+L?, (\d+)\)", p)}
        assert widths == {min(touched, cores)}, (touched, widths)
    files = [f for f in (tmp_path / "t").rglob("*.parquet")]
    per_dir: dict = {}
    for f in files:
        per_dir[f.parent] = per_dir.get(f.parent, 0) + 1
    assert max(per_dir.values()) == 1


def _job_ids(spark) -> set:
    sc = spark._jsparkSession.sparkContext()
    # the status store fills from the async listener bus
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


@pytest.mark.parametrize("keys, probe, hits", [
    (["id"], [5, 77, 123, 5, 99999], 3),
    (["id", "n"], [(5, 5), (77, 0), (123, 4), (9, None), (9, 1)], 3)],
    ids=["long", "long-int"])
def test_literal_lookup_is_one_job(spark, tmp_path, keys, probe, hits):
    """A literal-key lookup computes its bucket ids on the driver and
    filters the pruned read with an isin: the scan is its only Spark
    job (no bucket collect, no broadcast of a key frame)."""
    from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
    kt = KeyedTable(spark, str(tmp_path / "t"), keys, num_buckets=64,
                    tombstones=True)
    kt.init(spark.range(2000).selectExpr(
        "id", "CAST(id % 7 AS INT) AS n", "'x' AS v"))
    before = _job_ids(spark)
    got = kt.lookup(probe).collect()
    assert len(_job_ids(spark) - before) == 1
    assert len(got) == hits


def test_ledger_runs_no_spark_job(spark, tmp_path):
    """The file ledger is driver-side FS calls only: the per-file check
    and record, forget by key and GC launch no Spark job."""
    import datetime as dt

    from firebolt_cdc_lambda_spark.sources.ledger import FileLedger
    led = FileLedger(spark, str(tmp_path / "led"), cleanup_probability=0.0,
                     days_to_keep=1)
    before = _job_ids(spark)
    led.record("fair/t/2024/01/01/a.parquet", "completed")
    led.record("fair/t/2024/01/01/b.parquet", "failed", "boom")
    led.record("fair/t/2024/01/01/c.parquet", "completed",
               processed_at=dt.datetime(2024, 1, 1))
    assert led.is_processed("fair/t/2024/01/01/a.parquet")
    assert not led.is_processed("fair/t/2024/01/01/b.parquet")
    assert led.forget(file_keys=["fair/t/2024/01/01/a.parquet"]) == 1
    led.maybe_cleanup(force=True)
    assert not led.is_processed("fair/t/2024/01/01/c.parquet")
    assert _job_ids(spark) == before


def test_evolving_batch_adds_no_job_and_keeps_untouched_files(
        spark, tmp_path):
    """On an unversioned table the ADD COLUMN of a batch is a schema
    sidecar replace: the evolving batch runs as many Spark jobs as the
    same batch without the new column, and the data files of buckets
    it does not touch keep their names and mtimes."""
    from pyspark.sql import types as T

    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.operators import keyhash
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"t": "id"}'), ledger=False,
                       num_buckets=64)
    keys = [5, 77, 123]
    base = "id long, v string, Op string, load_timestamp timestamp"

    def batch(n, extra=False):
        import datetime as dt
        ts = dt.datetime(2024, 1, 1, n)
        if extra:
            return spark.createDataFrame(
                [(k, f"v{n}", "U", ts, f"e{k}") for k in keys],
                base + ", e string")
        return spark.createDataFrame([(k, f"v{n}", "U", ts) for k in keys],
                                     base)

    pipe.process_batch("t", ["id"], spark.createDataFrame(
        [(k, "v0", "I", None) for k in range(200)], base))
    pipe.process_batch("t", ["id"], batch(1))          # warm
    plain_batch, evolving_batch = batch(2), batch(3, extra=True)
    before = _job_ids(spark)
    pipe.process_batch("t", ["id"], plain_batch)
    plain = len(_job_ids(spark) - before)
    kt = pipe.target_for("t", ["id"])
    touched = {keyhash.bucket((k,), [T.LongType()], 64) for k in keys}

    def untouched_files():
        return sorted((str(st.getPath()), st.getModificationTime())
                      for b, st, _ in kt._walk_data_files()
                      if b not in touched)
    files = untouched_files()
    before = _job_ids(spark)
    r = pipe.process_batch("t", ["id"], evolving_batch)
    assert [n for n, _ in r.schema_report.added] == ["e"]
    assert len(_job_ids(spark) - before) == plain
    assert len(files) > 50 and untouched_files() == files
    assert {row["id"]: row["e"] for row in kt.read().collect()
            if row["e"] is not None} == {k: f"e{k}" for k in keys}
