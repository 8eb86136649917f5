"""Sorted-group iteration: group rows by key columns and process each
group with a user function that sees the group's rows as a *lazy*
iterator sorted by order columns.

Parity: reference src/main/scala/uk/co/gresearch/spark/group/package.scala:23-195
(``groupBySorted`` / ``flatMapSortedGroups``).  The Spark-first shape is:

    df.repartition([n,] *keys).sortWithinPartitions(*keys, *orders)

— one hash shuffle, then a spilling within-partition sort (Spark's
UnsafeExternalSorter), then per-partition streaming group detection.
Two processing paths:

* :meth:`SortedGroupByDataFrame.flat_map_sorted_groups` — RDD
  ``mapPartitions`` + ``itertools.groupby``: groups are never
  materialized, preserving the reference's O(1)-memory iterator contract
  (group/package.scala:50-52).  Rows cross into Python one at a time
  (pickle) — correct for huge groups, slower per row.
* :meth:`SortedGroupByDataFrame.apply_in_pandas` — Arrow-batched
  ``groupBy(...).applyInPandas`` with the group sorted before the user
  function runs.  10-100× faster, but materializes each group in memory
  — the right default when groups are bounded.
"""

from __future__ import annotations

import itertools
from typing import Callable, Iterator, List, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..utils import backticks

__all__ = [
    "SortedGroupByDataFrame",
    "KeySortedGroups",
    "group_by_sorted",
    "group_by_key_sorted",
]


def _as_cols(cols: Sequence[Union[str, Column]]) -> List[Column]:
    return [F.col(backticks(c)) if isinstance(c, str) else c for c in cols]


class SortedGroupByDataFrame:
    """A DataFrame grouped by ``key_columns`` whose groups iterate in
    ``order_columns`` order."""

    def __init__(
        self,
        df: DataFrame,
        key_columns: Sequence[str],
        order_columns: Sequence[Union[str, Column]],
        partitions: Optional[int] = None,
        reverse: bool = False,
    ) -> None:
        if not key_columns:
            raise ValueError("Key columns must not be empty")
        missing = [c for c in key_columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"Some key columns do not exist: {', '.join(missing)} "
                f"missing among {', '.join(df.columns)}"
            )
        self._df = df
        self.key_columns = list(key_columns)
        self.order_columns = list(order_columns)
        self.partitions = partitions
        self.reverse = reverse

        keys = _as_cols(self.key_columns)
        orders = _as_cols(self.order_columns)
        if reverse:
            orders = [c.desc() for c in orders]
        shuffled = (
            df.repartition(*keys) if partitions is None else df.repartition(partitions, *keys)
        )
        self.sorted_df = shuffled.sortWithinPartitions(*keys, *orders)

    # -- lazy iterator path -------------------------------------------------

    def flat_map_sorted_groups(
        self,
        fn: Callable[[tuple, Iterator[Row]], Iterator],
        schema: Union[str, T.StructType],
        state: Optional[Callable[[tuple], object]] = None,
    ) -> DataFrame:
        """Apply ``fn(key, iterator_of_rows)`` to each sorted group and
        flatten the results into a DataFrame with ``schema``.

        With ``state``, ``fn`` is called as ``fn(state(key), row)`` per
        row instead (the reference's stateful variant,
        group/package.scala:71-76).
        """
        key_names = list(self.key_columns)
        user_fn, state_factory = fn, state

        def run_partition(rows: Iterator[Row]) -> Iterator:
            grouped = itertools.groupby(
                rows, key=lambda r: tuple(r[k] for k in key_names)
            )
            if state_factory is None:
                for key, group in grouped:
                    yield from user_fn(key, group)
            else:
                for key, group in grouped:
                    st = state_factory(key)
                    for row in group:
                        yield from user_fn(st, row)

        spark = self._df.sparkSession
        return spark.createDataFrame(self.sorted_df.rdd.mapPartitions(run_partition), schema)

    # -- Arrow path ---------------------------------------------------------

    def apply_in_pandas(self, fn: Callable, schema: Union[str, T.StructType]) -> DataFrame:
        """Apply ``fn(key: tuple, pdf: pandas.DataFrame)`` per group; the
        pandas frame arrives sorted by the order columns.  Materializes
        each group (Arrow) — fast path for bounded groups.  With
        ``partitions``, the groups are hashed into that many tasks."""
        order_names = [c for c in self.order_columns if isinstance(c, str)]
        if len(order_names) != len(self.order_columns):
            raise ValueError("apply_in_pandas requires order columns given by name")
        ascending = not self.reverse
        user_fn = fn

        def run_group(key, pdf):
            if order_names:
                # na_position mirrors Spark's sort (asc = NULLS FIRST,
                # desc = NULLS LAST) so this path iterates groups in
                # exactly the order flat_map_sorted_groups streams them
                # — pandas' default ('last' always) would silently
                # reorder NULL-keyed rows between the two paths
                pdf = pdf.sort_values(
                    order_names,
                    ascending=ascending,
                    kind="mergesort",
                    na_position="first" if ascending else "last",
                )
            return user_fn(key, pdf)

        # With partitions=None the grouping exchange is applyInPandas'
        # own, left to AQE to coalesce.  Hashing into
        # session_shuffle_partitions instead was measured on the
        # benchmark's diff_groups_write (80k Zipf events, 4 vCPUs):
        # run_s -35% but peak RSS +26% (three more pandas workers,
        # +480 MB) and cpu_s +15%, so the default stays AQE's.
        df = self._df if self.partitions is None else self._df.repartition(
            self.partitions, *_as_cols(self.key_columns)
        )
        return df.groupBy(*self.key_columns).applyInPandas(run_group, schema)


def group_by_sorted(
    df: DataFrame,
    key_columns: Union[str, Sequence[str]],
    order_columns: Union[str, Column, Sequence],
    partitions: Optional[int] = None,
    reverse: bool = False,
) -> SortedGroupByDataFrame:
    """``df.groupBySorted(keys)(orders)`` (reference package.scala:821-846)."""
    if isinstance(key_columns, str):
        key_columns = [key_columns]
    if isinstance(order_columns, (str, Column)):
        order_columns = [order_columns]
    return SortedGroupByDataFrame(df, key_columns, order_columns, partitions, reverse)


class KeySortedGroups:
    """Groups keyed by an arbitrary ``key(row)`` function, iterating in
    ``order(row)`` order (reference package.scala:865-919,
    ``groupByKeySorted(V => K)(V => O)``).

    The lambda key is opaque to Catalyst — the reference documents this as
    the slow path and tells users to prefer column keys
    (package.scala:794-797); :func:`group_by_sorted` is that fast path.
    Here the distributed shape is the classic RDD one: tag each row with
    its ``(key, order)`` tuple, then one
    ``repartitionAndSortWithinPartitions`` — partitioned on ``key`` alone
    (hash), sorted on the composite — so groups land contiguous and
    pre-sorted on their partition with a single shuffle and a spilling
    external sort, same scale profile as the column path.
    """

    def __init__(
        self,
        df: DataFrame,
        key: Callable[[Row], object],
        order: Callable[[Row], object],
        partitions: Optional[int] = None,
        reverse: bool = False,
    ) -> None:
        from pyspark.rdd import portable_hash

        self._df = df
        n = partitions or df.rdd.getNumPartitions() or df.sparkSession.sparkContext.defaultParallelism
        key_fn, order_fn = key, order
        tagged = df.rdd.map(lambda r: ((key_fn(r), order_fn(r)), r))
        self.sorted_rdd = tagged.repartitionAndSortWithinPartitions(
            numPartitions=n,
            partitionFunc=lambda ko: portable_hash(ko[0]),
            ascending=not reverse,
        )

    def flat_map_sorted_groups(
        self,
        fn: Callable[[object, Iterator[Row]], Iterator],
        schema: Union[str, T.StructType],
        state: Optional[Callable[[object], object]] = None,
    ) -> DataFrame:
        """Apply ``fn(key, sorted_row_iterator)`` per group, lazily (rows
        stream through ``itertools.groupby``; a group is never
        materialized).  With ``state``, calls ``fn(state(key), row)`` per
        row (the reference's stateful variant)."""
        user_fn, state_factory = fn, state

        def run_partition(pairs: Iterator) -> Iterator:
            grouped = itertools.groupby(pairs, key=lambda kv: kv[0][0])
            if state_factory is None:
                for key, group in grouped:
                    yield from user_fn(key, (row for _, row in group))
            else:
                for key, group in grouped:
                    st = state_factory(key)
                    for _, row in group:
                        yield from user_fn(st, row)

        spark = self._df.sparkSession
        return spark.createDataFrame(self.sorted_rdd.mapPartitions(run_partition), schema)


def group_by_key_sorted(
    df: DataFrame,
    key: Callable[[Row], object],
    order: Callable[[Row], object],
    partitions: Optional[int] = None,
    reverse: bool = False,
) -> KeySortedGroups:
    """``ds.groupByKeySorted(row => k)(row => o, reverse)`` (reference
    package.scala:865-919).  ``key``/``order`` take a :class:`Row` and
    must return hashable, orderable values (tuples for compound keys)."""
    return KeySortedGroups(df, key, order, partitions, reverse)


def group_by_key(df: DataFrame, *key_columns: Union[str, Column]):
    """Column-expression grouping shortcut (reference
    package.scala:785-804, ``groupByKey(Column*)``).

    The reference exists because lambda-keyed ``groupByKey`` hides the
    grouping columns from Catalyst, defeating partitioning/ordering
    reuse; grouping by *columns* keeps the optimizer informed.  PySpark
    has no ``KeyValueGroupedDataset`` — the idiomatic equivalent is a
    ``GroupedData`` consumed via ``agg`` / ``applyInPandas``, which this
    returns.
    """
    return df.groupBy(*[F.col(backticks(c)) if isinstance(c, str) else c for c in key_columns])
