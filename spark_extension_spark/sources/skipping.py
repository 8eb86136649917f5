"""Stats-based data skipping: prune parquet files by footer min/max
before Spark ever plans the scan.

Spark's row-group pruning happens *inside* each task after the file is
already scheduled; at 100 TB with a clustered layout (see
``sources/layout.py`` — z-order / Hilbert writes exist precisely to
make per-file ranges tight) the win is not scheduling the task at all.
:func:`prune_files` reads footers only (KBs per file, distributed over
executors like every source in ``parquet_metadata.py``), keeps the
files whose [min, max] range for a column can contain matching rows,
and :func:`read_pruned` re-applies the predicate to the surviving
files — pruning is an *optimization*, never a semantics change, and
files without statistics are conservatively kept.

The file list itself is driver-side (O(#files) strings — the same list
Spark's own FileIndex materializes on the driver), not row data.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..utils import map_rows
from .parquet_metadata import _files_df, _footer_guarded

__all__ = ["file_column_ranges", "prune_files", "read_pruned"]


def _fold_stats(md, idx) -> Tuple[bool, Optional[float], Optional[float]]:
    """Fold one file's row-group min/max statistics for column ``idx``
    to a file-level ``(has_stats, lo, hi)``.  Any row group with
    absent statistics — or NaN min/max from a nonconforming writer
    (the parquet spec says NaN must never land in min/max; NaN would
    compare FALSE against every predicate bound and prune_files would
    then SKIP a file that may hold matching rows) — degrades the whole
    file to "no stats" (always kept).  A file with ZERO row groups has
    no statistics either — report it as such so the caller's keep
    expression stays boolean (has_stats=True with NULL bounds would
    make it NULL; the file was only ever "skipped" because it is
    empty, an invariant this return makes explicit instead of
    implicit).  Pure function — unit-tested."""
    if md.num_row_groups == 0:
        return False, None, None
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(idx).statistics
        if st is None or not st.has_min_max:
            return False, None, None
        gmin, gmax = float(st.min), float(st.max)
        if gmin != gmin or gmax != gmax:
            return False, None, None
        lo = gmin if lo is None else min(lo, gmin)
        hi = gmax if hi is None else max(hi, gmax)
    return True, lo, hi


def file_column_ranges(
    spark: SparkSession,
    *paths: str,
    column: str,
    parallelism: Optional[int] = None,
) -> DataFrame:
    """(path, n_rows, has_stats, min_value, max_value) per FILE for one
    numeric column — row-group stats folded to the file level, values
    as doubles.  ``has_stats`` is false when any row group lacks
    min/max for the column (the file must then always be kept)."""

    def rows(path):
        md, crypto = _footer_guarded(path)
        names = [md.schema.column(i).path for i in range(md.num_columns)]
        if column not in names:
            raise ValueError(f"column {column!r} not found in {path}; has {names}")
        ok, lo, hi = False, None, None
        if crypto.encryption == "UNENCRYPTED":
            ok, lo, hi = _fold_stats(md, names.index(column))
        yield path, md.num_rows, ok, lo, hi

    return map_rows(
        _files_df(spark, paths, parallelism),
        "path string, n_rows long, has_stats boolean, min_value double, max_value double",
        rows,
    )


def prune_files(
    spark: SparkSession,
    *paths: str,
    column: str,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
    parallelism: Optional[int] = None,
) -> Tuple[list, list]:
    """(kept_paths, skipped_paths) for the predicate
    ``lo <= column <= hi`` (either bound may be None).  A file is
    skipped only when its stats PROVE no row can match; files without
    stats are kept."""
    ranges = file_column_ranges(
        spark, *paths, column=column, parallelism=parallelism
    )
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("max_value") >= float(lo))
    if hi is not None:
        cond = cond & (F.col("min_value") <= float(hi))
    keep = ~F.col("has_stats") | cond
    rows = ranges.select("path", keep.alias("keep")).collect()
    kept = [r["path"] for r in rows if r["keep"]]
    skipped = [r["path"] for r in rows if not r["keep"]]
    return kept, skipped


def read_pruned(
    spark: SparkSession,
    *paths: str,
    column: str,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
    parallelism: Optional[int] = None,
) -> DataFrame:
    """Parquet read of only the files that can satisfy
    ``lo <= column <= hi``, with the predicate re-applied row-level —
    identical results to the unpruned filtered read, minus the skipped
    I/O and task scheduling.  With zero surviving files, returns an
    empty frame with the table's schema (from an unpruned reader)."""
    kept, _ = prune_files(
        spark, *paths, column=column, lo=lo, hi=hi, parallelism=parallelism
    )
    if not kept:
        empty = spark.read.parquet(*paths)
        return empty.where(F.lit(False))
    df = spark.read.parquet(*kept)
    if lo is not None:
        df = df.where(F.col(column) >= float(lo))
    if hi is not None:
        df = df.where(F.col(column) <= float(hi))
    return df
