"""Every full rebuild and re-init commits through ``fsio.replace_dir``:
for each store, a build whose write fails mid-job leaves the old store
whole, a crash between the swap's two renames (the committed dir moved
to ``__old``) reads back as the old store through a fresh handle, and
the ``__tmp`` a failed build leaves behind is ignored, then cleared by
the next build."""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

from firebolt_cdc_lambda_spark.operators.bloom import BloomIndex
from firebolt_cdc_lambda_spark.operators.ivf import IvfIndex
from firebolt_cdc_lambda_spark.operators.lsh import LshIndex
from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
from firebolt_cdc_lambda_spark.operators.pq import PqIndex
from firebolt_cdc_lambda_spark.operators.rollup_table import RollupTable
from firebolt_cdc_lambda_spark.operators.scd2 import Scd2Table
from firebolt_cdc_lambda_spark.operators.stats import StatsIndex

from conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class _Keyed:
    """``KeyedTable.init``; the re-init fills fewer buckets."""
    poison = "_bucket"
    versioned = False

    def dir(self, root):
        return f"{root}/t"

    def prepare(self, spark, root, gen):
        pass

    def build(self, spark, root, gen):
        ids = range(40) if gen == 0 else range(3)
        KeyedTable(spark, self.dir(root), ["id"], num_buckets=8,
                   versioned=self.versioned).init(spark.createDataFrame(
                       [(i, f"g{gen}_{i}") for i in ids], "id long, v string"))

    def state(self, spark, root):
        kt = KeyedTable(spark, self.dir(root), [])
        return _rows(kt.read()), kt.versioned


class _KeyedVersioned(_Keyed):
    versioned = True


class _Scd2(_Keyed):
    def _table(self, spark, root):
        return Scd2Table(spark, self.dir(root), ["k"], ["t"], ["attr"],
                         num_buckets=8)

    def build(self, spark, root, gen):
        ks = range(30) if gen == 0 else range(2)
        self._table(spark, root).init(spark.createDataFrame(
            [(k, 10 + gen, f"g{gen}") for k in ks],
            "k int, t bigint, attr string"))

    def state(self, spark, root):
        return _rows(self._table(spark, root).read())


class _Rollup(_Keyed):
    poison = "_gbucket"

    def _table(self, spark, root):
        return RollupTable(spark, self.dir(root), ["g"],
                           lambda: [F.count(F.lit(1)).alias("n")],
                           num_buckets=4)

    def build(self, spark, root, gen):
        gs = 12 if gen == 0 else 1
        self._table(spark, root).init(
            spark.range(60).selectExpr(f"id % {gs} AS g"))

    def state(self, spark, root):
        return _rows(self._table(spark, root).read())


class _Ivf:
    """Cells then centroids: the centroids write fails."""
    poison = "cent_id"

    def dir(self, root):
        return f"{root}/ivf"

    def prepare(self, spark, root, gen):
        pass

    def _index(self, spark, root):
        return IvfIndex(spark, self.dir(root), n_centroids=4)

    def _input(self, spark, gen):
        return (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
                .where(f"vec_id % 2 = {gen}"))

    def build(self, spark, root, gen):
        self._index(spark, root).build(self._input(spark, gen))

    def state(self, spark, root):
        ix = self._index(spark, root)
        return _rows(ix._read_store("cells")), _rows(
            ix._read_store("centroids"))


class _Pq(_Ivf):
    """Codes then codebooks: the codebooks write fails."""
    poison = "cb_sv"

    def dir(self, root):
        return f"{root}/pq"

    def _index(self, spark, root):
        return PqIndex(spark, self.dir(root), n_subspaces=8, n_codes=8)

    def state(self, spark, root):
        ix = self._index(spark, root)
        return _rows(ix._read_store("codes")), _rows(
            ix._read_store("codebooks"))


class _Lsh(_Ivf):
    """Signatures then postings: the postings (bucket) write fails."""
    poison = "band"

    def dir(self, root):
        return f"{root}/lsh"

    def _index(self, spark, root):
        return LshIndex(spark, self.dir(root), n_shards=4)

    def _input(self, spark, gen):
        return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .where(f"doc_id % 2 = {gen}"))

    def state(self, spark, root):
        ix = self._index(spark, root)
        return tuple(_rows(ix._read_shards(s, list(range(4))))
                     for s in ("sig", "buckets"))


class _Bloom:
    """A bloom index over a table rebucketed downward between builds."""
    poison = "bits"
    cls, column = BloomIndex, "cat"

    def dir(self, root):
        return f"{root}/t__{self.cls.kind}_{self.column}"

    def _table(self, spark, root):
        return KeyedTable(spark, f"{root}/t", ["id"], num_buckets=8)

    def prepare(self, spark, root, gen):
        if gen == 0:
            self._table(spark, root).init(spark.range(80).selectExpr(
                "id", "id * 10 AS ts", "concat('c', id % 7) AS cat"))
        else:
            self._table(spark, root).rebucket(2)

    def build(self, spark, root, gen):
        self.cls(self._table(spark, root), self.column).build()

    def state(self, spark, root):
        ix = self.cls(self._table(spark, root), self.column)
        return _rows(spark.read.parquet(ix.data_path))


class _BloomShared(_Bloom):
    def build(self, spark, root, gen):
        self.cls.build_many(self._table(spark, root), [self.column])


class _Stats(_Bloom):
    poison = "n_rows"
    cls, column = StatsIndex, "ts"

    def state(self, spark, root):
        # data-file names are random: compare the zone maps without them
        ix = self.cls(self._table(spark, root), self.column)
        return _rows(spark.read.parquet(ix.data_path).drop("f"))


class _StatsShared(_Stats):
    def build(self, spark, root, gen):
        self.cls.build_many(self._table(spark, root), [self.column])


ADOPTERS = {
    "keyed_init": _Keyed(), "keyed_versioned_init": _KeyedVersioned(),
    "scd2_init": _Scd2(), "rollup_init": _Rollup(),
    "ivf_build": _Ivf(), "pq_build": _Pq(), "lsh_build": _Lsh(),
    "bloom_build": _Bloom(), "bloom_build_many": _BloomShared(),
    "stats_build": _Stats(), "stats_build_many": _StatsShared(),
}


def _fail_writes_of(monkeypatch, column):
    """Every write of a frame holding ``column`` fails inside its Spark
    job, after the writer has set up (and an in-place overwrite would
    have cleared) its destination."""
    def write(df):
        if column in df.columns:
            df = df.withColumn("__crash", F.raise_error(
                F.lit("simulated crash mid-write")))
        return DataFrameWriter(df)

    monkeypatch.setattr(DataFrame, "write", property(write))


@pytest.mark.parametrize("name", sorted(ADOPTERS))
def test_rebuild_crash_states_keep_the_old_store(spark, tmp_path,
                                                 monkeypatch, name):
    a = ADOPTERS[name]
    clean = str(tmp_path / "clean")
    for gen in (0, 1):
        a.prepare(spark, clean, gen)
        a.build(spark, clean, gen)
    want_new = a.state(spark, clean)

    root = str(tmp_path / "live")
    a.prepare(spark, root, 0)
    a.build(spark, root, 0)
    old = a.state(spark, root)
    assert old != want_new
    d = a.dir(root)

    # a crash between the swap's renames: only the backup is committed
    shutil.move(d, d + "__old")
    assert a.state(spark, root) == old
    assert os.path.isdir(d) and not os.path.exists(d + "__old")

    # a build whose write fails mid-job: the old store stays whole
    a.prepare(spark, root, 1)
    _fail_writes_of(monkeypatch, a.poison)
    with pytest.raises(Exception, match="simulated crash mid-write"):
        a.build(spark, root, 1)
    monkeypatch.undo()
    assert a.state(spark, root) == old

    # the failed build's __tmp is never read; the next build clears it
    os.makedirs(d + "__tmp", exist_ok=True)
    with open(f"{d}__tmp/part-junk.parquet", "w") as f:
        f.write("not parquet")
    assert a.state(spark, root) == old
    a.build(spark, root, 1)
    assert a.state(spark, root) == want_new
    assert not os.path.exists(d + "__tmp")
    assert not os.path.exists(d + "__old")
