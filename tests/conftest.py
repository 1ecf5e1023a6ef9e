import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from firebolt_cdc_lambda_spark.session import conf_scope, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _arrow_backed_create(spark):
    """Reroute the test files' ``spark.createDataFrame(list)`` calls to
    frames backed by Arrow batches held in the JVM.

    A classic ``createDataFrame(list)`` frame is a pickled Python RDD:
    every job that scans it runs its partitions through Python workers,
    ~0.3 s per scan on a 4-core box, and the merge-heavy tests pay that
    on every batch.  The same rows as Arrow record batches (one per
    non-empty ``parallelize`` slice, rows in the same slices and order)
    scan inside the JVM.  Schema inference and verification still run
    through the classic call; its frame is returned whenever the rows
    do not convert or the Arrow frame's schema differs from it.  The
    engine's own ``createDataFrame`` calls are left alone."""
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    create = spark.createDataFrame

    def to_arrow(data, schema):
        n = spark.sparkContext.defaultParallelism
        large = spark._jconf.arrowUseLargeVarTypes()
        target = to_arrow_schema(schema, prefers_large_types=large)
        parts = [data[i * len(data) // n:(i + 1) * len(data) // n]
                 for i in range(n)]
        # an empty record batch would end the JVM's Arrow stream early
        return pa.concat_tables([
            LocalDataToArrowConversion.convert(p, schema, large).cast(target)
            for p in parts if p])

    def createDataFrame(data, *args, **kwargs):
        df = create(data, *args, **kwargs)
        caller = os.path.abspath(sys._getframe(1).f_code.co_filename)
        if (not isinstance(data, list) or not data
                or not isinstance(df.schema, StructType)
                # the Arrow converter rescales decimals by its own rule
                or "decimal" in df.schema.simpleString()
                or not caller.startswith(TESTS_DIR + os.sep)):
            return df
        try:
            fast = create(to_arrow(data, df.schema), df.schema)
        except Exception:
            return df
        return fast if fast.schema == df.schema else df

    spark.createDataFrame = createDataFrame
    return spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fcls-tests", master="local[4]", shuffle_partitions=8)
    yield _arrow_backed_create(s)


@pytest.fixture()
def dynamic_overwrite(spark):
    """The test runs under a session whose partition-overwrite default
    is DYNAMIC, as a user's session may set it: a full rebuild or
    re-init must truncate under either mode."""
    with conf_scope(spark, **{
            "spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        yield


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
