"""Parquet metadata source tests — golden counts against the reference's
checked-in fixtures (read-only) and the driver testdata."""

import glob

import pytest

from spark_extension_spark.sources.parquet_metadata import (
    parquet_block_columns,
    parquet_blocks,
    parquet_metadata,
    parquet_partitions,
    parquet_schema,
)

# ``parquet_files.test`` (conftest): the reference fixture rewritten with
# pyarrow — 2 files, schema id:int64 + val:double, 100+200 rows, 1+2 row
# groups (reference ParquetSuite.scala:84-117)
SF_LINEITEM = "/root/testdata/sf0.001/lineitem.parquet"


def test_metadata_fixture(spark, parquet_files):
    df = parquet_metadata(spark, parquet_files.test)
    rows = df.collect()
    assert len(rows) == 2
    by_rows = {r["rows"]: r for r in rows}
    assert set(by_rows) == {100, 200}
    assert by_rows[100]["blocks"] == 1 and by_rows[200]["blocks"] == 2
    assert all(r["columns"] == 2 for r in rows)
    assert all(r["values"] == 2 * r["rows"] for r in rows)
    assert all(r["encryption"] == "UNENCRYPTED" for r in rows)


def test_schema_fixture(spark, parquet_files):
    df = parquet_schema(spark, parquet_files.test)
    rows = df.collect()
    assert len(rows) == 4  # 2 files x 2 columns
    cols = {(r["columnName"], r["type"]) for r in rows}
    assert cols == {("id", "INT64"), ("val", "DOUBLE")}
    assert all(r["isPrimitive"] for r in rows)


def test_blocks_fixture(spark, parquet_files):
    df = parquet_blocks(spark, parquet_files.test)
    rows = df.collect()
    assert len(rows) == 3  # 1 + 2 row groups
    assert sorted(r["block"] for r in rows) == [1, 1, 2]
    assert sum(r["rows"] for r in rows) == 300


def test_block_columns_fixture(spark, parquet_files):
    df = parquet_block_columns(spark, parquet_files.test)
    rows = df.collect()
    assert len(rows) == 6  # 3 blocks x 2 columns
    assert {tuple(r["column"]) for r in rows} == {("id",), ("val",)}


def test_partitions_fixture(spark, parquet_files):
    df = parquet_partitions(spark, parquet_files.test)
    rows = df.collect()
    # all row groups assigned exactly once across splits
    assert sum(r["blocks"] for r in rows) == 3
    assert sum(r["rows"] for r in rows) == 300


def test_partitions_match_spark_planning(spark):
    """Our replicated split math must agree with Spark's own planning."""
    ours = parquet_partitions(spark, SF_LINEITEM)
    n_ours = ours.select("partition").distinct().count()
    n_spark = spark.read.parquet(SF_LINEITEM).rdd.getNumPartitions()
    assert n_ours == n_spark


def test_partitions_respect_max_partition_bytes(spark):
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
        ours = parquet_partitions(spark, SF_LINEITEM)
        n_ours = ours.select("partition").distinct().count()
        n_spark = spark.read.parquet(SF_LINEITEM).rdd.getNumPartitions()
        assert n_ours == n_spark
        assert n_ours > 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_metadata_directory_input(spark, sf_dir):
    df = parquet_metadata(spark, sf_dir)
    # one row per table file
    n_files = len(glob.glob(f"{sf_dir}/*.parquet"))
    assert df.count() == n_files


def test_parallelism_knob(spark, parquet_files):
    df = parquet_metadata(spark, parquet_files.test, parallelism=3)
    assert df.rdd.getNumPartitions() == 3


def test_missing_path(spark):
    with pytest.raises(FileNotFoundError):
        parquet_metadata(spark, "/does/not/exist.parquet")


def test_parse_bytes_two_letter_suffixes():
    # Spark's own docs write '128MB'; both forms must parse
    from spark_extension_spark.sources.parquet_metadata import _parse_bytes

    assert _parse_bytes("128MB") == 128 * 1024**2
    assert _parse_bytes("128m") == 128 * 1024**2
    assert _parse_bytes("4kb") == 4096
    assert _parse_bytes("1t") == 1024**4
    assert _parse_bytes("1pb") == 1024**5
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("2048") == 2048
