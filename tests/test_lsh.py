"""Incremental LSH near-dup index: build over the documents corpus,
probe a shifted-copy batch against it, gate ingestion, append, re-probe.

The shifted-copy construction (substr(text, 4) of every 20th doc) is the
same near-dup injection the oracle-verified corpus query uses
(corpus/simops._neardup_corpus), so expected behavior is anchored to the
driver-green dedup_minhash_lsh semantics."""

from pyspark.sql import functions as F

from firebolt_cdc_lambda_spark.operators.lsh import LshIndex

SF = "/root/testdata/sf0.001"
OFFSET = 1_000_000


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _batch(spark, docs):
    shifted = (docs.where("doc_id % 20 = 0")
               .selectExpr(f"doc_id + {OFFSET} AS doc_id",
                           "substr(text, 4) AS text"))
    novel = spark.createDataFrame(
        [(2_000_000 + i,
          f"zqxj{i} wvun{i} kpfh{i} qgdm{i} xvbr{i} jwpl{i} tkzn{i}")
         for i in range(5)],
        "doc_id BIGINT, text STRING")
    return shifted.unionByName(novel), shifted, novel


def test_probe_finds_shifted_near_dups_and_passes_novel(spark, tmp_path):
    docs = _docs(spark)
    ix = LshIndex(spark, str(tmp_path / "lsh"), n_shards=16)
    ix.build(docs)
    batch, shifted, novel = _batch(spark, docs)
    shifted_ids = {r[0] for r in shifted.select("doc_id").collect()}
    novel_ids = {r[0] for r in novel.select("doc_id").collect()}

    matches = ix.probe(batch).collect()
    by_batch = {}
    for r in matches:
        assert r["jaccard"] >= 0.5          # exact-verified, not just banded
        by_batch.setdefault(r["batch_doc_id"], set()).add(r["corpus_doc_id"])

    # novel docs never match
    assert not (set(by_batch) & novel_ids)
    # recall: most shifted copies find their own original (LSH banding
    # P(candidate)=1-(1-j^4)^2 at j~0.9 -> high; exact Jaccard then >=0.5)
    own = sum(1 for b in shifted_ids if (b - OFFSET) in by_batch.get(b, ()))
    assert own >= 0.6 * len(shifted_ids)

    # ingestion gate: novel docs all pass, matched shifted docs drop
    kept = {r[0] for r in ix.filter_new(batch).select("doc_id").collect()}
    assert novel_ids <= kept
    assert kept & set(by_batch) == set()


def test_add_then_self_match_and_stats(spark, tmp_path):
    docs = _docs(spark)
    ix = LshIndex(spark, str(tmp_path / "lsh2"), n_shards=16)
    ix.build(docs)
    _, _, novel = _batch(spark, docs)
    assert ix.probe(novel).count() == 0     # not indexed yet
    ix.add(novel)
    m = {(r["batch_doc_id"], r["corpus_doc_id"]): r["jaccard"]
         for r in ix.probe(novel).collect()}
    novel_ids = [r[0] for r in novel.select("doc_id").collect()]
    for i in novel_ids:
        assert m[(i, i)] == 1.0             # exact self-match after append
    stats = ix.shard_stats()
    assert stats["sig"] and stats["buckets"]
    assert sum(stats["sig"].values()) >= 1


def test_streaming_ingestion_gate(spark, tmp_path):
    """The 100 TB ingestion shape end-to-end: a file stream of incoming
    document batches, foreachBatch probes the persisted corpus index,
    near-dups are dropped, novel docs are appended to BOTH the accepted
    store and the index — so a duplicate arriving in a LATER batch is
    caught by the fingerprints a prior batch added."""
    docs = _docs(spark)
    ix = LshIndex(spark, str(tmp_path / "lsh_s"), n_shards=16)
    ix.build(docs)
    src = str(tmp_path / "incoming")
    accepted_dir = str(tmp_path / "accepted")

    _, shifted, novel = _batch(spark, docs)
    # batch 1: shifted near-dups + novel docs; batch 2: the novel docs
    # re-crawled under new ids (identical text -> identical minhashes ->
    # guaranteed band collision; only catchable via batch 1's appended
    # fingerprints)
    shifted.unionByName(novel).coalesce(1).write.parquet(f"{src}/b1.parquet")
    (novel.selectExpr("doc_id + 500 AS doc_id", "text")
     .coalesce(1).write.parquet(f"{src}/b2.parquet"))

    def gate(batch_df, batch_id):
        fresh = ix.filter_new(batch_df).localCheckpoint(eager=True)
        fresh.write.mode("append").parquet(accepted_dir)
        ix.add(fresh)

    schema = novel.schema
    q = (spark.readStream.schema(schema)
         .option("recursiveFileLookup", "true")
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(gate)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {r[0] for r in spark.read.parquet(accepted_dir)
           .select("doc_id").collect()}
    novel_ids = {r[0] for r in novel.select("doc_id").collect()}
    # all novel docs accepted; their later shifted copies all rejected
    assert novel_ids <= got
    assert not ({i + 500 for i in novel_ids} & got)
    # most shifted corpus near-dups rejected (LSH banding recall)
    shifted_ids = {r[0] for r in shifted.select("doc_id").collect()}
    assert len(got & shifted_ids) <= 0.4 * len(shifted_ids)


def test_probe_against_empty_index_is_empty(spark, tmp_path):
    docs = _docs(spark)
    ix = LshIndex(spark, str(tmp_path / "lsh3"), n_shards=8)
    got = ix.probe(docs.limit(3))
    assert got.count() == 0
    assert got.columns == ["batch_doc_id", "corpus_doc_id", "jaccard"]


def test_corrupted_shard_raises_not_silently_empty(spark, tmp_path):
    """A real read failure (corrupt parquet) must RAISE: treating it as
    'no near-duplicates' would make filter_new silently admit duplicate
    documents.  Only a verifiably-absent path maps to 'nothing there'."""
    import glob as globmod
    import os

    import pytest

    docs = _docs(spark)
    ix = LshIndex(spark, str(tmp_path / "lsh"), n_shards=4)
    ix.build(docs)
    # corrupt every bucket-store shard data file
    for f in globmod.glob(f"{tmp_path}/lsh/buckets/shard=*/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"definitely not parquet" * 64)
    batch, _, _ = _batch(spark, docs)
    with pytest.raises(Exception) as exc_info:
        ix.probe(batch).collect()
    # the benign-absence path would have returned an empty frame instead
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_empty_shard_dirs_treated_as_absent(spark, tmp_path):
    """Shard dirs that exist but hold no files (aborted first write) are
    'nothing there', not an error."""
    import os
    root = tmp_path / "lsh" / "buckets"
    for s in range(4):
        os.makedirs(root / f"shard={s}")
    ix = LshIndex(spark, str(tmp_path / "lsh"), n_shards=4)
    batch, _, _ = _batch(spark, _docs(spark))
    assert ix.probe(batch).count() == 0


def test_self_dedup_drops_intra_batch_near_dups(spark, tmp_path):
    """self_dedup guards the case probe() cannot see: two near-duplicate
    docs arriving in the SAME batch.  Keep rule: smallest id of each
    colliding pair survives; the admitted set is pairwise near-dup-free.
    Works standalone — no index build needed (pure function of the batch)."""
    docs = _docs(spark)
    ix = LshIndex(spark, str(tmp_path / "lsh_sd"), n_shards=8)
    base = docs.where("doc_id % 20 = 0").select("doc_id", "text")
    dup = base.selectExpr(f"doc_id + {OFFSET} AS doc_id",
                          "substr(text, 4) AS text")
    _, _, novel = _batch(spark, docs)
    batch = base.unionByName(dup).unionByName(novel)

    kept_df = ix.self_dedup(batch)
    kept = {r[0] for r in kept_df.select("doc_id").collect()}
    base_ids = {r[0] for r in base.select("doc_id").collect()}
    novel_ids = {r[0] for r in novel.select("doc_id").collect()}
    assert novel_ids <= kept                     # non-dups untouched
    # base docs survive EXCEPT genuine intra-corpus near-dup pairs (the
    # sf0.001 fixture really contains one: docs 120 ~ 360)
    assert len(kept & base_ids) >= 0.9 * len(base_ids)
    assert 0 in kept                             # the globally smallest id
    # most shifted copies dropped (LSH banding recall, not exact-100%)
    dup_ids = {r[0] for r in dup.select("doc_id").collect()}
    assert len(kept & dup_ids) <= 0.4 * len(dup_ids)
    # the admitted set is pairwise near-dup-free => a second pass is identity
    assert ix.self_dedup(kept_df).count() == kept_df.count()


def test_self_dedup_no_dups_is_identity(spark, tmp_path):
    docs = _docs(spark)
    ix = LshIndex(spark, str(tmp_path / "lsh_sd2"), n_shards=8)
    _, _, novel = _batch(spark, docs)
    assert ix.self_dedup(novel).count() == novel.count()


def test_append_of_another_doc_id_type_raises_before_writing(spark,
                                                             tmp_path):
    """The stores' layout is fixed by the build: an append whose doc_id
    type differs is rejected before any file is written."""
    import pytest
    ix = LshIndex(spark, str(tmp_path / "lsh"), n_shards=4)
    ix.build(_docs(spark).limit(40))
    files = sorted(p for p in (tmp_path / "lsh").rglob("*") if p.is_file())
    _, _, novel = _batch(spark, _docs(spark))
    wrong = novel.selectExpr("CAST(doc_id AS STRING) AS doc_id", "text")
    with pytest.raises(ValueError, match="doc_id arrived as string"):
        ix.add(wrong)
    with pytest.raises(ValueError, match="doc_id arrived as string"):
        ix.add_fused(ix.fingerprints(wrong))
    assert sorted(p for p in (tmp_path / "lsh").rglob("*")
                  if p.is_file()) == files
    ix.add(novel)                           # the build's type still appends
    assert ix.probe(novel).count() == 5
