"""fan_out (operators.partitioning): the conditional input-skew repair
added in the r6 optimization round. Contract: fires ONLY when the frame
has fewer partitions than the session's parallelism, is row-preserving,
and never touches streaming frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluvio_jolt_spark.operators.partitioning import fan_out


def test_fan_out_raises_parallelism_of_narrow_input(spark):
    par = spark.sparkContext.defaultParallelism
    # large enough that the size-derived target hits the parallelism cap
    df = spark.range(2_000_000).coalesce(1)
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == par
    assert out.count() == 2_000_000


def test_fan_out_small_input_fans_to_few_partitions(spark):
    # a tiny frame must NOT fan out to `cores` near-empty tasks: the
    # target is one partition per FAN_OUT_GRAIN compressed input bytes
    df = spark.range(10).coalesce(1)
    assert fan_out(df) is df


def test_fan_out_noop_on_wide_input(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(par + 3)
    out = fan_out(df)
    # already at/above target: the frame passes through untouched
    assert out is df


def test_fan_out_min_partitions_override(spark):
    df = spark.range(100).coalesce(1)
    assert fan_out(df, min_partitions=1) is df
    out = fan_out(df, min_partitions=4)
    assert out.rdd.getNumPartitions() == 4


def test_fan_out_preserves_values(spark):
    df = spark.range(200_000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1)
    out = fan_out(df)
    assert out.rdd.getNumPartitions() > 1
    assert sorted(r.v for r in out.collect()) == [2 * i for i in range(200_000)]


def test_fan_out_without_size_statistic_uses_full_parallelism(spark):
    # a frame over an RDD carries no size statistic (the optimizer
    # reports spark.sql.defaultSizeInBytes): full parallelism, no error
    par = spark.sparkContext.defaultParallelism
    rdd = spark.sparkContext.parallelize([(i,) for i in range(100)], 1)
    df = spark.createDataFrame(rdd, "id long")
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == par
    assert sorted(r.id for r in out.collect()) == list(range(100))


class _EstimateFails:
    """A frame whose size estimate raises in the JVM."""

    def __init__(self, df, fail):
        self._df, self._fail = df, fail

    def __getattr__(self, name):
        return getattr(self._df, name)

    @property
    def _jdf(self):
        self._fail(self._df.sparkSession._jvm)


@pytest.mark.parametrize(
    "fail",
    [
        # arrives as a raw Py4JJavaError
        lambda jvm: jvm.java.util.Objects.requireNonNull(None),
        # arrives converted to a PySpark exception
        lambda jvm: jvm.java.lang.Long.parseLong("no statistic"),
    ],
    ids=["py4j", "converted"],
)
def test_fan_out_failed_size_estimate_uses_full_parallelism(spark, fail):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(10).coalesce(1)
    out = fan_out(_EstimateFails(df, fail))
    assert out.rdd.getNumPartitions() == par
