"""Partitioned writing with few, sorted files.

Parity: reference src/main/scala/uk/co/gresearch/spark/package.scala:717-768
(``writePartitionedBy``).  Plain ``df.write.partitionBy(cols)`` writes one
file per (task, partition-value) pair — at 1000 executors that is up to
1000 small files *per partition directory*.  This operator instead
clusters rows by the partition columns (plus optional file columns) so
each partition value lands in as few tasks as possible, then sorts within
partitions so files are internally ordered:

    df.repartition([n,] partCols)                     # no file columns
    df.repartitionByRange([n,] partCols ++ fileCols)  # with file columns
      .sortWithinPartitions(partCols ++ fileCols ++ fileOrder)
      .write.partitionBy(partCols)

Without file columns, both exchanges send every row of one partition
value to one task, so each partition directory gets exactly one file.
The hash exchange is used there because a range exchange first runs a
sampling job over its input to compute its bounds, and that job
re-executes the whole upstream stage (a Python UDF upstream runs twice).
Neither exchange evens out file sizes under key skew: one hot partition
value is one file either way.  File columns are where range partitioning
matters: it splits one partition value into several files that each
cover a contiguous, non-overlapping range of the file columns.

Targeting Spark ≥ 3.5: the SPARK-40588 AQE cache workaround the
reference carries for Spark ≤ 3.3.1 is unnecessary; ``unpersist_handle``
is accepted for API parity and set to a no-op frame.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils import UnpersistHandle, backticks

__all__ = ["write_partitioned_by"]


def write_partitioned_by(
    df: DataFrame,
    partition_columns: Sequence[Union[str, Column]],
    more_file_columns: Sequence[Union[str, Column]] = (),
    more_file_order: Sequence[Union[str, Column]] = (),
    partitions: Optional[int] = None,
    written_projection: Optional[Sequence[Union[str, Column]]] = None,
    unpersist_handle: Optional[UnpersistHandle] = None,
):
    """Return a ready-to-use ``DataFrameWriter`` configured for a
    partitioned, sorted, few-files write.  Call ``.parquet(path)`` /
    ``.format(...).save(path)`` on the result."""
    if not partition_columns:
        raise ValueError("partition columns must not be empty")

    # materialize computed partition/file columns so partitionBy sees them,
    # and read their names back positionally from the projection
    computed = [c for c in list(partition_columns) + list(more_file_columns)
                if not isinstance(c, str)]
    prepared = df.select("*", *computed) if computed else df
    computed_names = iter(prepared.columns[len(df.columns):])

    def named(cols):
        return [
            (c, False) if isinstance(c, str) else (next(computed_names), True)
            for c in cols
        ]

    partition_tagged = named(partition_columns)
    file_tagged = named(more_file_columns)
    # the unnamed-expression check applies ONLY to computed entries: a
    # real column legitimately named 'f(x)' passed as a string must not
    # be rejected by the '(' heuristic
    for name, was_computed in partition_tagged + file_tagged:
        if was_computed and (name.startswith("`") or "(" in name):
            raise ValueError(
                f"Computed partition/file column '{name}' must be named — "
                "use Column.alias(name)"
            )
    partition_names = [n for n, _ in partition_tagged]
    file_names = [n for n, _ in file_tagged]

    layout_cols = [F.col(backticks(c)) for c in partition_names + file_names]
    exchange = prepared.repartitionByRange if file_names else prepared.repartition
    shuffled = (
        exchange(*layout_cols) if partitions is None else exchange(partitions, *layout_cols)
    )
    sort_cols = layout_cols + [
        F.col(backticks(c)) if isinstance(c, str) else c for c in more_file_order
    ]
    laid_out = shuffled.sortWithinPartitions(*sort_cols)

    if written_projection is not None:
        laid_out = laid_out.select(*written_projection)

    if unpersist_handle is not None:
        # Spark >= 3.5 needs no AQE cache workaround; hand over a no-op frame
        unpersist_handle.set_dataframe(laid_out)

    return laid_out.write.partitionBy(*partition_names)
