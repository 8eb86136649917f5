"""Sorted-group tests (reference GroupSuite/GroupBySuite)."""

import pytest
from pyspark.sql import functions as F

from spark_extension_spark import group_by_sorted


@pytest.fixture(scope="module")
def df(spark):
    rows = [(k, o, k * 10 + o) for k in (1, 2, 3) for o in (3, 1, 2)]
    return spark.createDataFrame(rows, ["k", "o", "v"]).repartition(4)


def test_flat_map_sorted_groups_order(df):
    grouped = group_by_sorted(df, "k", "o")

    def collect_order(key, rows):
        yield (key[0], [r["o"] for r in rows])

    result = grouped.flat_map_sorted_groups(
        collect_order, "k long, orders array<long>"
    )
    got = {r["k"]: r["orders"] for r in result.collect()}
    assert got == {1: [1, 2, 3], 2: [1, 2, 3], 3: [1, 2, 3]}


def test_flat_map_sorted_groups_reverse(df):
    grouped = group_by_sorted(df, "k", "o", reverse=True)

    def collect_order(key, rows):
        yield (key[0], [r["o"] for r in rows])

    result = grouped.flat_map_sorted_groups(collect_order, "k long, orders array<long>")
    assert {r["k"]: r["orders"] for r in result.collect()}[2] == [3, 2, 1]


def test_flat_map_sorted_groups_running_sum(df):
    grouped = group_by_sorted(df, "k", "o")

    def running(key, rows):
        total = 0
        for r in rows:
            total += r["v"]
            yield (key[0], r["o"], total)

    result = grouped.flat_map_sorted_groups(running, "k long, o long, run long")
    got = {(r["k"], r["o"]): r["run"] for r in result.collect()}
    assert got[(1, 1)] == 11 and got[(1, 2)] == 23 and got[(1, 3)] == 36


def test_stateful_variant(df):
    grouped = group_by_sorted(df, "k", "o")

    class Counter:
        def __init__(self):
            self.n = 0

    def per_row(state, row):
        state.n += 1
        yield (row["k"], state.n)

    result = grouped.flat_map_sorted_groups(
        per_row, "k long, seq long", state=lambda key: Counter()
    )
    counts = {}
    for r in result.collect():
        counts[r["k"]] = max(counts.get(r["k"], 0), r["seq"])
    assert counts == {1: 3, 2: 3, 3: 3}


def test_apply_in_pandas(df):
    grouped = group_by_sorted(df, "k", "o")

    def summarize(key, pdf):
        return pdf.assign(run=pdf["v"].cumsum())[["k", "o", "run"]]

    result = grouped.apply_in_pandas(summarize, "k long, o long, run long")
    got = {(r["k"], r["o"]): r["run"] for r in result.collect()}
    assert got[(1, 1)] == 11 and got[(1, 3)] == 36


def test_partitions_argument(df):
    grouped = group_by_sorted(df, "k", "o", partitions=2)
    assert grouped.sorted_df.rdd.getNumPartitions() == 2


def test_apply_in_pandas_partitions_argument(df):
    # the Arrow path groups over the same n-way hash layout as the lazy
    # path, and the grouping reuses it without a second exchange
    grouped = group_by_sorted(df, "k", "o", partitions=3)
    result = grouped.apply_in_pandas(
        lambda key, pdf: pdf[["k", "o"]], "k long, o long"
    )
    assert result.rdd.getNumPartitions() == 3
    assert sorted(tuple(r) for r in result.collect()) == [
        (k, o) for k in (1, 2, 3) for o in (1, 2, 3)
    ]


def test_missing_key_column(df):
    with pytest.raises(ValueError, match="key columns do not exist"):
        group_by_sorted(df, "nope", "o")


def test_empty_keys(df):
    with pytest.raises(ValueError, match="must not be empty"):
        group_by_sorted(df, [], "o")


def test_lazy_iteration_handles_one_huge_group(spark):
    """The O(1)-memory contract: one group far larger than any sane
    per-group buffer, consumed lazily without materialization."""
    big = spark.range(500_000).select(
        F.lit(1).alias("k"), F.col("id").alias("o")
    )
    grouped = group_by_sorted(big, "k", "o")

    def head_tail(key, rows):
        first = next(rows)["o"]
        last = n = None
        for n, r in enumerate(rows, start=2):
            last = r["o"]
        yield (key[0], first, last, n)

    row = grouped.flat_map_sorted_groups(
        head_tail, "k int, first long, last long, n long"
    ).collect()[0]
    assert (row["first"], row["last"], row["n"]) == (0, 499_999, 500_000)


# -- lambda-keyed variant (reference package.scala:865-919) -----------------


def test_group_by_key_sorted_lambda(df):
    from spark_extension_spark import group_by_key_sorted

    grouped = group_by_key_sorted(df, key=lambda r: r["k"] % 2, order=lambda r: (r["k"], r["o"]))

    def collect_order(key, rows):
        yield (key, [r["v"] for r in rows])

    result = grouped.flat_map_sorted_groups(collect_order, "key long, vs array<long>")
    got = {r["key"]: r["vs"] for r in result.collect()}
    # odd k's (1, 3) interleave in (k, o) order; even k (2) alone
    assert got == {
        1: [11, 12, 13, 31, 32, 33],
        0: [21, 22, 23],
    }


def test_group_by_key_sorted_reverse(df):
    from spark_extension_spark import group_by_key_sorted

    grouped = group_by_key_sorted(
        df, key=lambda r: r["k"], order=lambda r: r["o"], reverse=True
    )

    def collect_order(key, rows):
        yield (key, [r["o"] for r in rows])

    result = grouped.flat_map_sorted_groups(collect_order, "key long, os array<long>")
    assert {r["key"]: r["os"] for r in result.collect()}[2] == [3, 2, 1]


def test_group_by_key_sorted_stateful_and_partitions(df):
    from spark_extension_spark import group_by_key_sorted

    grouped = group_by_key_sorted(df, key=lambda r: r["k"], order=lambda r: r["o"], partitions=2)
    assert grouped.sorted_rdd.getNumPartitions() == 2

    class Counter:
        def __init__(self):
            self.n = 0

    def per_row(state, row):
        state.n += 1
        yield (row["k"], row["o"], state.n)

    result = grouped.flat_map_sorted_groups(
        per_row, "k long, o long, n long", state=lambda key: Counter()
    )
    got = {(r["k"], r["o"]): r["n"] for r in result.collect()}
    assert got[(3, 1)] == 1 and got[(3, 2)] == 2 and got[(3, 3)] == 3


def test_group_by_key_sorted_matches_window(spark, sf_dir):
    """Lambda path must agree with the declarative window formulation."""
    from spark_extension_spark import group_by_key_sorted
    from spark_extension_spark.registry import load
    from pyspark.sql import Window

    # registry.load handles events' INT64 TIMESTAMP(NANOS) column
    events = load(spark, sf_dir, "events").select("user_id", "ts", "value").limit(2000)

    def running(key, rows):
        total = 0.0
        for r in rows:
            total += r["value"] or 0.0
            yield (key, r["ts"], total)

    got = group_by_key_sorted(
        events, key=lambda r: r["user_id"], order=lambda r: (r["ts"],)
    ).flat_map_sorted_groups(running, "user_id long, ts long, run double")

    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    want = events.select(
        "user_id", "ts", F.sum(F.coalesce("value", F.lit(0.0))).over(w).alias("run")
    )
    diff = got.join(want, ["user_id", "ts"]).where(F.abs(got["run"] - want["run"]) > 1e-6)
    assert got.count() == want.count()
    assert diff.count() == 0


def test_null_order_values_identical_across_paths(spark):
    # Spark's ascending sort is NULLS FIRST; pandas defaults NaN-last —
    # both processing paths of the same grouped frame must iterate
    # NULL-ordered rows identically
    ndf = spark.createDataFrame(
        [(1, None, 10), (1, 2, 20), (1, 1, 30)], "k long, o long, v long"
    )
    grouped = group_by_sorted(ndf, "k", "o")

    def rdd_order(key, rows):
        yield (key[0], [r["v"] for r in rows])

    def pandas_order(key, pdf):
        import pandas as pd

        return pd.DataFrame({"k": [key[0]], "vs": [list(pdf["v"])]})

    via_rdd = grouped.flat_map_sorted_groups(
        rdd_order, "k long, vs array<long>"
    ).collect()[0]["vs"]
    via_pandas = grouped.apply_in_pandas(
        pandas_order, "k long, vs array<long>"
    ).collect()[0]["vs"]
    assert via_rdd == via_pandas == [10, 30, 20]  # NULL first, then 1, 2
