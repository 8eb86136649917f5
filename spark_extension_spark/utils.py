"""Core utilities shared by every operator.

Parity targets (see SURVEY.md §2.10/§2.13):
- backticks            -> reference src/main/scala-spark-3.5/uk/co/gresearch/spark/Backticks.scala:22-66
- distinct_prefix_for  -> reference src/main/scala/uk/co/gresearch/spark/package.scala:42-46
- case-sensitivity     -> reference python/gresearch/spark/diff/__init__.py:158-204
- UnpersistHandle      -> reference src/main/scala/uk/co/gresearch/spark/UnpersistHandle.scala:27-72
"""

from __future__ import annotations

import re
from typing import Iterable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "backticks",
    "distinct_prefix_for",
    "count_null",
    "UnpersistHandle",
    "SilentUnpersistHandle",
    "NoopUnpersistHandle",
    "LocalCheckpointCycler",
    "safe_union",
    "session_shuffle_partitions",
]

_PLAIN_NAME = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")


def backticks(name: str, *more: str) -> str:
    """Join column-name parts with ``.``, wrapping any part that needs
    quoting (non-identifier characters or embedded backticks) in backticks.

    >>> backticks("a.column", "a.field")
    '`a.column`.`a.field`'
    """

    def quote(part: str) -> str:
        if _PLAIN_NAME.match(part) and "`" not in part:
            return part
        return "`" + part.replace("`", "``") + "`"

    return ".".join(quote(p) for p in (name, *more))


def distinct_prefix_for(existing: Iterable[str]) -> str:
    """A ``_``-prefix strictly longer than any leading ``_`` run in
    ``existing``, so that prefixed temp columns can never collide."""
    longest = 0
    for name in existing:
        run = len(name) - len(name.lstrip("_"))
        longest = max(longest, run)
    return "_" * (longest + 1)


def count_null(column) -> Column:
    """Aggregate counting ``NULL`` values of ``column``
    (complement of ``count``)."""
    col = F.col(column) if isinstance(column, str) else column
    return F.count(F.when(col.isNull(), F.lit(1)))


# ---------------------------------------------------------------------------
# case sensitivity helpers: Spark resolves column names per
# ``spark.sql.caseSensitive`` (default false); all name bookkeeping in this
# package must follow the same rule.
# ---------------------------------------------------------------------------


def is_case_sensitive(spark: SparkSession) -> bool:
    return (spark.conf.get("spark.sql.caseSensitive") or "false").lower() == "true"


def session_shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count as an int, for operators
    that pin an explicit-count ``repartition`` (exempt from AQE
    coalescing — used where AQE's byte-driven sizing is blind to join
    fan-out or per-row CPU).  Platforms can hold a non-integer value
    here (e.g. ``"auto"`` under Databricks auto-optimized shuffle);
    fall back to the cluster's default parallelism rather than crash
    at plan-build time."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except (TypeError, ValueError):
        pass
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        # Spark Connect sessions raise on any sparkContext access —
        # the same managed platforms where the non-integer conf values
        # occur; fall through to the conf-only default
        pass
    try:
        return int(spark.conf.get("spark.default.parallelism", "200"))
    except (TypeError, ValueError):
        return 200


def fold_name(name: str, case_sensitive: bool) -> str:
    return name if case_sensitive else name.lower()


def names_diff(left: Iterable[str], right: Iterable[str], case_sensitive: bool) -> List[str]:
    """Elements of ``left`` not present in ``right`` (case-configured),
    preserving order and original spelling."""
    exclude = {fold_name(n, case_sensitive) for n in right}
    return [n for n in left if fold_name(n, case_sensitive) not in exclude]


def names_intersect(left: Iterable[str], right: Iterable[str], case_sensitive: bool) -> List[str]:
    keep = {fold_name(n, case_sensitive) for n in right}
    return [n for n in left if fold_name(n, case_sensitive) in keep]


def names_contain(haystack: Iterable[str], needle: str, case_sensitive: bool) -> bool:
    target = fold_name(needle, case_sensitive)
    return any(fold_name(n, case_sensitive) == target for n in haystack)


# ---------------------------------------------------------------------------
# UnpersistHandle
# ---------------------------------------------------------------------------


class UnpersistHandle:
    """Handle to eventually unpersist a DataFrame cached inside an operator
    (e.g. :func:`with_row_numbers`).  Call the handle to unpersist.

    ``set_dataframe`` is single-shot (reference parity: the handle cannot be
    reused across operator invocations); operators that persist *several*
    frames internally register the extras with :meth:`add_dataframe`, and a
    single call releases them all.
    """

    def __init__(self) -> None:
        self._df: Optional[DataFrame] = None
        self._extra: list[DataFrame] = []
        self._callbacks: list = []

    def set_dataframe(self, df: DataFrame) -> None:
        if self._df is not None:
            raise RuntimeError("DataFrame has been set already, it cannot be reused.")
        self._df = df

    def add_dataframe(self, df: DataFrame) -> None:
        """Register an additional persisted frame released by the same call
        (for operators that cache more than one intermediate)."""
        if self._df is None:
            self.set_dataframe(df)
        else:
            self._extra.append(df)

    def add_callback(self, fn) -> None:
        """Register a zero-arg cleanup run by the same call, AFTER the
        frames are unpersisted — for storage a plain ``unpersist`` cannot
        reach (e.g. a loop's final ``localCheckpoint`` generation, whose
        cache belongs to the internal RDD).  Once the callback has run the
        owning result may be unrecomputable — firing the handle declares
        the caller completely done with it."""
        self._callbacks.append(fn)

    def __call__(self, blocking: bool = False) -> None:
        # callback-only handles are legal (operators that checkpoint but
        # persist nothing, e.g. k_core); the error fires only when the
        # handle holds nothing at all — reference message parity
        if self._df is None and not self._callbacks:
            raise RuntimeError("DataFrame has to be set first")
        if self._df is not None:
            self._df.unpersist(blocking)
        for df in self._extra:
            df.unpersist(blocking)
        for fn in self._callbacks:
            fn()


class SilentUnpersistHandle(UnpersistHandle):
    """Like :class:`UnpersistHandle` but silently ignores a missing DataFrame."""

    def set_dataframe(self, df: DataFrame) -> None:
        if self._df is None:
            self._df = df
        else:
            self._extra.append(df)

    def __call__(self, blocking: bool = False) -> None:
        if self._df is not None:
            self._df.unpersist(blocking)
        for df in self._extra:
            df.unpersist(blocking)
        for fn in self._callbacks:
            fn()


class NoopUnpersistHandle(UnpersistHandle):
    """Handle that never holds and never unpersists anything."""

    def set_dataframe(self, df: DataFrame) -> None:  # pragma: no cover - trivial
        pass

    def add_callback(self, fn) -> None:  # pragma: no cover - trivial
        pass

    def __call__(self, blocking: bool = False) -> None:  # pragma: no cover - trivial
        pass


class LocalCheckpointCycler:
    """Frees superseded ``localCheckpoint`` generations inside iterative
    driver loops (connected components, PageRank, k-core, LPA, BPE).

    ``localCheckpoint(eager=True)`` truncates lineage by caching the
    step's internal RDD, but that cache is owned by the RDD, not the
    DataFrame: ``df.unpersist()`` does not release it, and an
    ``UnpersistHandle`` cannot either.  Left alone, an R-round loop
    accumulates R generations of checkpointed state until the
    ContextCleaner garbage-collects the driver-side references — at
    cluster scale that is R × |state| of executor storage held for no
    reason.  This cycler keeps exactly one generation live: generation
    N-1 is unpersisted as soon as generation N is materialized, since
    every loop here reads only the previous round's state.

    Freeing a locally-checkpointed RDD makes it unrecomputable (its
    lineage is gone), so only *superseded* generations are ever freed:
    ``checkpoint()`` frees the previous generation after the new one is
    eagerly materialized, and ``release()`` frees the final generation —
    call it only once every consumer of the last checkpoint is done
    (e.g. from an ``UnpersistHandle`` callback the caller fires).

    A generation is the RDD the checkpointed frame's plan reads (its
    ``LogicalRDD``), read off the returned frame itself, so a checkpoint
    another thread takes meanwhile is never mistaken for this loop's.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._jsc = spark.sparkContext._jsc
        self._live: Optional[int] = None  # RDD id of the live generation

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eagerly localCheckpoint ``df``, then free the previous
        generation."""
        ck = df.localCheckpoint(eager=True)
        rid = ck._jdf.queryExecution().logical().rdd().id()
        self.release()
        self._live = rid
        return ck

    def release(self) -> None:
        """Free the live generation (see class docstring for when)."""
        if self._live is not None:
            jrdd = self._jsc.getPersistentRDDs().get(self._live)
            if jrdd is not None:
                jrdd.unpersist(False)
            self._live = None


_NUMERIC_RANK = {
    "tinyint": 0,
    "smallint": 1,
    "int": 2,
    "bigint": 3,
    "float": 4,
    "double": 5,
}


def _widen(a: str, b: str) -> Optional[str]:
    """Least common type for schema-evolution unions, or None if the
    pair is not safely unifiable.  Numeric chain tinyint → … → double
    (integral + fractional → double: a bigint cannot round-trip through
    float); date widens to timestamp; equal types are themselves."""
    if a == b:
        return a
    if a in _NUMERIC_RANK and b in _NUMERIC_RANK:
        hi = max(a, b, key=_NUMERIC_RANK.get)
        lo = min(a, b, key=_NUMERIC_RANK.get)
        # integral + float/double: float can't hold long exactly -> double
        if hi == "float" and lo in ("int", "bigint"):
            return "double"
        return hi
    if {a, b} == {"date", "timestamp"}:
        return "timestamp"
    for dec, other in ((a, b), (b, a)):
        if dec.startswith("decimal") and other in _NUMERIC_RANK and _NUMERIC_RANK[other] <= 3:
            # widen to full precision at the decimal's scale: a narrow
            # decimal(5,2) cannot hold an arbitrary bigint
            m = re.match(r"decimal\((\d+),(\d+)\)", dec)
            scale = int(m.group(2)) if m else 0
            return f"decimal(38,{scale})"
    return None


def safe_union(
    frames: Sequence[DataFrame],
    coerce_to_string: bool = False,
) -> DataFrame:
    """Schema-evolution-tolerant UNION ALL BY NAME over any number of
    frames: the output schema is the union of all column names (in
    first-appearance order); a frame missing a column contributes
    NULLs; columns whose types differ across frames are widened to the
    least common type (numeric chain ``tinyint→…→double`` — integral +
    ``float`` widens to ``double`` because a long can't round-trip
    through float; ``date``+``timestamp`` → ``timestamp``; integral +
    decimal → the decimal).  The everyday need behind it: month N's
    parquet added a column, month N−1's called it ``int`` before it
    grew into ``bigint`` — plain ``unionByName`` refuses or, worse,
    resolves by position.

    A pair with no safe widening (e.g. ``string`` vs ``int``) raises —
    unless ``coerce_to_string=True``, which casts both sides to
    ``string`` (explicit lossy opt-in, never the default).

    Pure projection + ``unionByName`` — no shuffle, no data movement
    beyond the union itself; Catalyst pushes the casts into each scan.
    """
    frames = list(frames)
    if not frames:
        raise ValueError("safe_union needs at least one DataFrame")
    # fold names per the session's resolution mode: under the default
    # case-insensitive resolution, 'ID' and 'id' are ONE logical column
    # — treating them as two would split the data into half-NULL twins
    cs = is_case_sensitive(frames[0].sparkSession)
    order: List[str] = []
    types: dict = {}
    for df in frames:
        for name, dtype in df.dtypes:
            key = fold_name(name, cs)
            if key not in types:
                order.append(name)  # first spelling wins the output name
                types[key] = dtype
            else:
                w = _widen(types[key], dtype)
                if w is None:
                    if coerce_to_string:
                        w = "string"
                    else:
                        raise TypeError(
                            f"safe_union: column {name!r} has incompatible "
                            f"types {types[key]!r} and {dtype!r} "
                            "(pass coerce_to_string=True to force strings)"
                        )
                types[key] = w
    aligned = []
    for df in frames:
        have = {fold_name(n, cs): n for n, _ in df.dtypes}
        cols = [
            (
                # backticks: a column literally named 'a.b' must not be
                # parsed as struct-field access
                F.col(backticks(have[fold_name(c, cs)])).cast(
                    types[fold_name(c, cs)]
                )
                if fold_name(c, cs) in have
                else F.lit(None).cast(types[fold_name(c, cs)])
            ).alias(c)
            for c in order
        ]
        aligned.append(df.select(*cols))
    out = aligned[0]
    for df in aligned[1:]:
        out = out.unionByName(df)
    return out


def map_rows(df: DataFrame, schema: str, rows) -> DataFrame:
    """``df`` mapped through ``rows(*values)``: called with each input
    row's column values, it yields output tuples in the column order of
    the DDL ``schema``.

    For kernels whose per-row work is Python anyway (footer reads, blob
    decodes): in ``mapInArrow``, each input batch becomes Python values
    once and its output rows become one Arrow batch of ``schema``, with
    no pandas frame in between."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            out = [r for values in zip(*batch.to_pydict().values()) for r in rows(*values)]
            cols = list(zip(*out)) if out else [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
            )

    return df.mapInArrow(kernel, struct)
