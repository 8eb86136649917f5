"""Reproducible library-vs-plain-PySpark baseline timings.

BASELINE.md's protocol: the reference publishes no numbers, so the
bench target is "within 2x of a hand-written plain-PySpark formulation
of the same task at the same scale factor".  This script implements
the six baseline formulations BASELINE.md specifies — stock DataFrame
code a competent Spark user would write, no library imports on the
baseline side — and times library vs baseline under identical session
config, warmup, and media-of-3 protocol as bench.py, on BOTH the
shipped single-row-group layout and the bench's repacked splittable
layout (the layout is a harness property, not a library-vs-baseline
difference — both sides see the same files).

Usage: python scripts/bench_baseline.py   (writes baseline_detail.json)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bench import CPUS, SF_DIR, _repack, session
from spark_extension_spark.registry import QUERIES, _LINEITEM_VALUE_COLUMNS, _diff_inputs, load

WARM_DIR = "/root/testdata/sf0.001" if os.path.isdir("/root/testdata/sf0.001") else SF_DIR

# --- baseline formulations (BASELINE.md "Operational baseline protocol") ---


def base_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    left, right = _diff_inputs(spark, sf_dir)
    ids = ["l_orderkey", "l_linenumber"]
    # self-join: qualify through string aliases, the stock recipe for
    # "Column ... is ambiguous" on two branches of the same scan
    l = lambda c: F.col(f"l.{c}")  # noqa: E731
    r = lambda c: F.col(f"r.{c}")  # noqa: E731
    cond = None
    for k in ids:
        c = l(k).eqNullSafe(r(k))
        cond = c if cond is None else cond & c
    joined = left.alias("l").join(right.alias("r"), cond, "fullouter")
    l_ex = l(ids[0]).isNotNull() | l(ids[1]).isNotNull()
    r_ex = r(ids[0]).isNotNull() | r(ids[1]).isNotNull()
    changed = None
    for c in _LINEITEM_VALUE_COLUMNS:
        d = ~l(c).eqNullSafe(r(c))
        changed = d if changed is None else changed | d
    action = (
        F.when(~l_ex, F.lit("I"))
        .when(~r_ex, F.lit("D"))
        .when(changed, F.lit("C"))
        .otherwise(F.lit("N"))
    )
    cols = [action.alias("diff")]
    cols += [F.coalesce(l(k), r(k)).alias(k) for k in ids]
    for c in _LINEITEM_VALUE_COLUMNS:
        cols += [l(c).alias(f"left_{c}"), r(c).alias(f"right_{c}")]
    return joined.select(cols)


def base_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    thresholds = [20000, 40000, 60000]
    v = F.col("l_extendedprice")
    aggs = [
        F.sum(F.when(v <= thresholds[0], 1).otherwise(0)).alias(f"le_{thresholds[0]}")
    ]
    for lo, hi in zip(thresholds, thresholds[1:]):
        aggs.append(
            F.sum(F.when((v > lo) & (v <= hi), 1).otherwise(0)).alias(f"le_{hi}")
        )
    aggs.append(F.sum(F.when(v > thresholds[-1], 1).otherwise(0)).alias("gt"))
    return li.groupBy("l_returnflag").agg(*aggs)


def base_row_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the scalable 5-step algorithm itself, hand-written (ROW_NUMBER.md):
    # sort-within-partitions, local row_number per partition, cumulative
    # partition offsets over #partitions rows, broadcast-join the offsets
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    parted = (
        orders.repartitionByRange("o_orderdate", "o_orderkey")
        .sortWithinPartitions("o_orderdate", "o_orderkey")
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    local = parted.withColumn(
        "__local",
        F.row_number().over(
            Window.partitionBy("__pid").orderBy("o_orderdate", "o_orderkey")
        ),
    )
    counts = parted.groupBy("__pid").count()
    offsets = counts.withColumn(
        "__offset",
        F.coalesce(
            F.sum("count").over(
                Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__pid", "__offset")
    out = (
        local.join(F.broadcast(offsets), "__pid")
        .select(
            "o_orderkey",
            "o_orderdate",
            (F.col("__local") + F.col("__offset")).cast("bigint").alias("row_number"),
        )
    )
    # eager checkpoint BEFORE releasing the pinned partitioning: both
    # plan branches above depend on the persisted partition assignment,
    # and a lazy checkpoint would recompute them (possibly under a
    # different partitioning) after the unpersist
    out = out.localCheckpoint(eager=True)
    parted.unpersist()
    return out


def base_sorted_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )

    def run(rows):
        key, total = None, 0.0
        for r in rows:
            if r["l_orderkey"] != key:
                key, total = r["l_orderkey"], 0.0
            total += r["l_quantity"]
            yield (key, r["l_linenumber"], total)

    schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("running_sum", DoubleType()),
        ]
    )
    sorted_rdd = (
        li.repartition("l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .rdd.mapPartitions(run)
    )
    return spark.createDataFrame(sorted_rdd, schema)


def base_write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil

    orders = load(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="spark_ext_base_write_")
    # 1 warmup + 3 timed runs x 2 layouts write 8 copies per script
    # run — reclaim them at exit instead of silently filling /tmp
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = base + "/orders"
    (
        orders.repartition("o_orderstatus")
        .sortWithinPartitions("o_orderkey")
        .write.partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("o_totalprice").cast("decimal(18,2)").alias("sum_price"),
    )


def base_parquet_metadata(spark: SparkSession, sf_dir: str):
    # pyarrow footer scan (no Spark job at all — the honest floor)
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(f"{sf_dir}/lineitem.parquet")
    md = pf.metadata
    values = nulls = compressed = uncompressed = 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        compressed += g.total_byte_size
        for ci in range(g.num_columns):
            col = g.column(ci)
            uncompressed += col.total_uncompressed_size
            st = col.statistics
            values += g.num_rows
            if st is not None and st.null_count is not None:
                nulls += st.null_count
    return {
        "filename": "lineitem.parquet",
        "blocks": md.num_row_groups,
        "compressedBytes": compressed,
        "uncompressedBytes": uncompressed,
        "rows": md.num_rows,
        "columns": md.num_columns,
        "values": values,
        "nulls": nulls,
    }


PAIRS = [
    # (name, library query key, baseline fn)
    ("diff", "diff_lineitem", base_diff),
    ("histogram", "histogram_lineitem_price", base_histogram),
    ("row_numbers", "row_numbers_orders", base_row_numbers),
    ("sorted_groups", "sorted_groups_running_sum", base_sorted_groups),
    ("partitioned_write", "write_partitioned_read_back", base_write_partitioned),
    ("parquet_metadata", "parquet_metadata_lineitem", base_parquet_metadata),
]


def _time(spark, fn, sf_dir, warm_dir):
    try:
        res = fn(spark, warm_dir)
        if isinstance(res, DataFrame):
            res.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    except Exception:
        pass
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        res = fn(spark, sf_dir)
        if isinstance(res, DataFrame):
            res.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    spark.catalog.clearCache()
    return round(sorted(runs)[1], 3)


def main() -> None:
    spark = session(CPUS, "spark_extension_spark-baseline")

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repacked = os.path.join(here, ".bench_cache", os.path.basename(SF_DIR.rstrip("/")))
    layouts = [("shipped", SF_DIR)]
    try:
        # same fail-safe contract as bench.py: the repack is a timing
        # optimization, never a correctness requirement — a read-only
        # checkout or exotic schema degrades to the shipped layout
        _repack(SF_DIR, repacked)
        layouts.append(("repacked", repacked))
    except Exception as exc:  # noqa: BLE001 - any repack failure degrades
        print(f"repack skipped ({exc}); timing the shipped layout only",
              file=sys.stderr)
    warm = WARM_DIR

    out = {"sf_dir": SF_DIR, "cpus": int(CPUS), "layouts": {}}
    for layout, d in layouts:
        rows = {}
        for name, qkey, base_fn in PAIRS:
            lib = _time(spark, QUERIES[qkey], d, warm)
            base = _time(spark, base_fn, d, warm)
            rows[name] = {
                "library": lib,
                "baseline": base,
                "ratio": round(lib / base, 2) if base else None,
            }
            if name == "parquet_metadata":
                # not a 2x-criterion row: the baseline is a DRIVER-LOCAL
                # pyarrow footer read (~2 ms for one file) and the library
                # a distributed job whose ~0.5 s is job-launch floor — the
                # ratio measures Spark overhead, not the algorithm.  The
                # distributed form exists for catalogs of thousands of
                # files, where a driver-local loop is the thing that
                # doesn't scale.
                rows[name]["note"] = "driver-local floor vs distributed job; excluded from the 2x criterion"
            print(f"{layout:9s} {name:18s} lib={lib:6.2f}  base={base:6.2f}  ratio={rows[name]['ratio']}")
        out["layouts"][layout] = rows

    with open(os.path.join(here, "baseline_detail.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps({"metric": "library_vs_baseline", **out}, separators=(",", ":")))


if __name__ == "__main__":
    main()
