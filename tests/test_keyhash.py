"""The driver-side key hash equals Spark's ``pmod(xxhash64(...), nb)``.

``KeyedTable.lookup`` prunes literal-key reads to the buckets this hash
names, so one wrong bit is an empty answer, not an error.  The golden
vectors need no Spark; the property compares against Spark itself."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from firebolt_cdc_lambda_spark.operators import keyhash

L, I, S, B, STR = (T.LongType(), T.IntegerType(), T.ShortType(),
                   T.ByteType(), T.StringType())

# (values, types, nb) -> (xxhash64, bucket), read from Spark 4.1
GOLDEN = [
    ((0,), (L,), 64, -5252525462095825812, 44),
    ((-1,), (L,), 64, 3858142552250413010, 18),
    ((2**63 - 1,), (L,), 1000, -3246596055638297850, 150),
    ((-2**63,), (L,), 7, -8619748838626508300, 3),
    ((12345,), (I,), 64, -122588266845139798, 42),
    ((-2**31,), (I,), 1000, 2073849959933241805, 805),
    ((-7,), (S,), 7, 4987848727247274714, 0),
    ((100,), (B,), 64, -7987742665087449293, 51),
    (("",), (STR,), 64, -7444071767201028348, 4),
    (("héllo",), (STR,), 1000, 501425390238239234, 234),
    (("the quick brown fox jumps over the lazy dog 😀",), (STR,), 64,
     593002328422626850, 34),
    ((42, 3), (L, I), 64, 8095773141772838759, 39),
    ((None, 3), (L, I), 64, 6258084186791473711, 47),
    (("k€y", 5, 1), (STR, L, I), 1000, 177569003571754330, 330),
]


@pytest.mark.parametrize("values, types, nb, h, b", GOLDEN)
def test_golden_vectors(values, types, nb, h, b):
    assert keyhash.xxhash64(values, types) == h
    assert keyhash.bucket(values, types, nb) == b


def test_hashable_types():
    assert keyhash.hashable([L, I, S, B, STR])
    assert not keyhash.hashable([L, T.DoubleType()])
    assert not keyhash.hashable([T.DateType()])
    assert not keyhash.hashable([T.StringType("UTF8_LCASE")])


COLS = T.StructType([T.StructField("l", L), T.StructField("i", I),
                     T.StructField("s", S), T.StructField("b", B),
                     T.StructField("t", STR)])
# single columns, then composites in the chained order the hash takes
KEYS = [["l"], ["i"], ["s"], ["b"], ["t"], ["l", "i"], ["t", "l", "i"],
        ["b", "s", "t"]]


def _ints(bits):
    lo, hi = -2 ** (bits - 1), 2 ** (bits - 1) - 1
    return st.one_of(st.none(), st.sampled_from([lo, hi, 0, -1]),
                     st.integers(lo, hi))


ROW = st.tuples(_ints(64), _ints(32), _ints(16), _ints(8),
                st.one_of(st.none(), st.text(max_size=100)))


NBS = (1, 7, 64, 1000)


@settings(max_examples=12, deadline=None)
@given(rows=st.lists(ROW, min_size=1, max_size=30))
def test_bucket_matches_spark(spark, rows):
    got = spark.createDataFrame(rows, COLS).select(*COLS.names, *[
        F.pmod(F.xxhash64(*k), F.lit(nb)).alias(f"h{n}_{nb}")
        for n, k in enumerate(KEYS) for nb in NBS]).collect()
    for r in got:
        for n, k in enumerate(KEYS):
            for nb in NBS:
                assert keyhash.bucket([r[c] for c in k],
                                      [COLS[c].dataType for c in k],
                                      nb) == r[f"h{n}_{nb}"], (k, nb, r)
