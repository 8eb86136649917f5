"""Partitioned-write layout tests (reference WritePartitionedSuite)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from spark_extension_spark import UnpersistHandle, write_partitioned_by


@pytest.fixture(scope="module")
def df(spark):
    rows = [(i, i % 3, f"v{i}") for i in range(300)]
    return spark.createDataFrame(rows, ["id", "bucket", "v"]).repartition(8)


def test_write_layout(df, tmp_path):
    path = str(tmp_path / "out")
    write_partitioned_by(df, ["bucket"]).parquet(path)
    dirs = sorted(os.path.basename(p) for p in glob.glob(f"{path}/bucket=*"))
    assert dirs == ["bucket=0", "bucket=1", "bucket=2"]
    # clustered by bucket: each partition dir holds few files
    for d in dirs:
        files = glob.glob(f"{path}/{d}/*.parquet")
        assert 1 <= len(files) <= 2


def test_write_sorted_files(df, tmp_path, spark):
    path = str(tmp_path / "sorted")
    write_partitioned_by(
        df, ["bucket"], more_file_order=["id"], partitions=3
    ).parquet(path)
    # rows inside each file must be ordered by id
    for f in glob.glob(f"{path}/bucket=*/*.parquet"):
        ids = [r["id"] for r in spark.read.parquet(f).collect()]
        assert ids == sorted(ids)


def test_write_computed_partition_column(df, tmp_path, spark):
    path = str(tmp_path / "computed")
    write_partitioned_by(
        df, [(F.col("id") % 2).cast("int").alias("parity")]
    ).parquet(path)
    dirs = sorted(os.path.basename(p) for p in glob.glob(f"{path}/parity=*"))
    assert dirs == ["parity=0", "parity=1"]
    back = spark.read.parquet(path)
    assert back.count() == 300 and "parity" in back.columns


def test_write_projection(df, tmp_path, spark):
    path = str(tmp_path / "proj")
    write_partitioned_by(
        df, ["bucket"], written_projection=["bucket", "id"]
    ).parquet(path)
    back = spark.read.parquet(path)
    assert sorted(back.columns) == ["bucket", "id"]


def test_write_unnamed_computed_column_fails(df):
    with pytest.raises(ValueError, match="must be named"):
        write_partitioned_by(df, [F.col("id") % 2])


def test_write_empty_partition_columns(df):
    with pytest.raises(ValueError, match="must not be empty"):
        write_partitioned_by(df, [])


def test_unpersist_handle_accepted(df, tmp_path):
    handle = UnpersistHandle()
    write_partitioned_by(df, ["bucket"], unpersist_handle=handle).parquet(
        str(tmp_path / "h")
    )
    handle()  # no-op on Spark >= 3.5, must not raise


def test_string_column_named_like_expression_is_accepted(spark, tmp_path):
    # the unnamed-computed-expression heuristic must not reject a REAL
    # column whose name merely contains parentheses
    from pyspark.sql import functions as F

    from spark_extension_spark.sources.partitioned_write import (
        write_partitioned_by,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "k"]).withColumn(
        "f(x)", F.col("id") % 2
    )
    path = str(tmp_path / "out")
    write_partitioned_by(df, ["f(x)"]).parquet(path)
    assert spark.read.parquet(path).count() == 2
    # unnamed computed expressions still raise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be named"):
        write_partitioned_by(df, [F.col("id") % 3])


def test_write_runs_upstream_once(df, tmp_path, spark):
    # without file columns the layout exchange is a hash exchange: a
    # range exchange's bound-sampling job would run the upstream Python
    # UDF over every row a second time
    acc = spark.sparkContext.accumulator(0)

    def tag(v):
        acc.add(1)
        return v.upper()

    tagged = df.withColumn("tag", F.udf(tag, "string")("v"))
    path = str(tmp_path / "once")
    write_partitioned_by(tagged, ["bucket"], more_file_order=["id"]).parquet(path)
    assert acc.value == 300
    assert spark.read.parquet(path).count() == 300


@pytest.mark.parametrize("partitions", [None, 2])
def test_write_one_sorted_file_per_partition_value(spark, tmp_path, partitions):
    # heavy skew: bucket 0 holds 90% of the rows, and still one file
    rows = [(i, 0 if i % 10 else 1 + i % 3) for i in range(400)]
    skewed = spark.createDataFrame(rows, ["id", "bucket"]).repartition(8)
    path = str(tmp_path / "one")
    write_partitioned_by(
        skewed, ["bucket"], more_file_order=[F.col("id").desc()],
        partitions=partitions,
    ).parquet(path)
    dirs = glob.glob(f"{path}/bucket=*")
    assert len(dirs) == 4
    for d in dirs:
        (f,) = glob.glob(f"{d}/*.parquet")
        ids = [r["id"] for r in spark.read.parquet(f).collect()]
        assert ids == sorted(ids, reverse=True)


def test_write_file_columns_split_into_disjoint_ranges(df, tmp_path, spark):
    # file columns keep the range exchange: a partition value spread
    # over several files gives each a contiguous, disjoint id range
    path = str(tmp_path / "ranges")
    write_partitioned_by(
        df, ["bucket"], more_file_columns=["id"], partitions=4
    ).parquet(path)
    split_dirs = 0
    for d in glob.glob(f"{path}/bucket=*"):
        ranges = sorted(
            spark.read.parquet(f).agg(F.min("id"), F.max("id")).first()
            for f in glob.glob(f"{d}/*.parquet")
        )
        split_dirs += len(ranges) > 1
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi < lo
    assert split_dirs >= 1
