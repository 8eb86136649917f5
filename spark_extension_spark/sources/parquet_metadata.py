"""Parquet metadata as DataFrames — footer-only reads, never row data.

Parity: reference src/main/scala/uk/co/gresearch/spark/parquet/package.scala:32-595.
The reference fans footer reads out to executors with parquet-hadoop; the
PySpark-native equivalent distributes the *file list* as a DataFrame and
reads footers with pyarrow inside ``mapInArrow`` — same I/O profile
(one footer read per file, ≤ parallelism tasks, zero row-data I/O),
no JVM interop.

Output schemas match the reference column-for-column:
- parquet_metadata:      per file           (parquet/package.scala:135-148)
- parquet_schema:        per leaf column    (:235-249)
- parquet_blocks:        per row group      (:332-343)
- parquet_block_columns: per row-group col  (:435-454)
- parquet_partitions:    per Spark split    (:543-557), replicating
  Spark's split planning (maxPartitionBytes / openCostInBytes /
  leafNodeDefaultParallelism bin packing) and the block-midpoint rule
  (:587-593).
"""

from __future__ import annotations

import os
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from ..utils import map_rows

__all__ = [
    "parquet_metadata",
    "parquet_schema",
    "parquet_blocks",
    "parquet_block_columns",
    "parquet_partitions",
]


def _list_files(paths: Tuple[str, ...]) -> List[Tuple[str, int]]:
    """Expand files/directories into (path, size); hidden files skipped
    (Spark's rule).  Local-FS listing — at cluster scale swap in the
    Hadoop FileSystem client; the plan shape is unchanged."""
    out = []
    for path in paths:
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                if name.startswith((".", "_")):
                    continue
                full = os.path.join(path, name)
                if os.path.isfile(full):
                    out.append((full, os.path.getsize(full)))
        elif os.path.isfile(path):
            out.append((path, os.path.getsize(path)))
        else:
            raise FileNotFoundError(path)
    if not out:
        raise ValueError(f"No parquet files found under: {', '.join(paths)}")
    return out


def _files_df(
    spark: SparkSession, paths: Tuple[str, ...], parallelism: Optional[int]
) -> DataFrame:
    """One ``path`` row per file, spread over the footer-reading tasks."""
    files = _list_files(paths)
    n = parallelism or min(len(files), spark.sparkContext.defaultParallelism)
    df = spark.createDataFrame([(path,) for path, _ in files], "path string")
    return df.repartition(n)


def _footer(path: str):
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata


def _footer_guarded(path: str):
    """Footer + encryption state.  Raises for an encrypted footer (parity:
    the reference throws for all five sources without keys,
    ParquetSuite.scala:402-417); for a plaintext footer with encrypted
    column chunks, returns the crypto map so callers can avoid touching
    unreadable chunk metadata (pyarrow std::terminates on access — see
    footer_crypto module docstring)."""
    from .footer_crypto import scan_footer_crypto

    crypto = scan_footer_crypto(path)
    if crypto.footer_encrypted:
        raise ValueError(
            f"parquet footer is encrypted and no decryption keys are "
            f"available: {path}"
        )
    return _footer(path), crypto


def _sum_columns(md, attr) -> int:
    return sum(
        getattr(md.row_group(g).column(c), attr)
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    )


def _null_count(md) -> Optional[int]:
    """Total nulls, or None unless *every* column chunk has statistics
    (reference parquet/package.scala:119-127)."""
    total = 0
    for g in range(md.num_row_groups):
        for c in range(md.num_columns):
            stats = md.row_group(g).column(c).statistics
            if stats is None or stats.null_count is None:
                return None
            total += stats.null_count
    return total


def _key_values(md) -> dict:
    raw = md.metadata or {}
    return {
        k.decode("utf-8", "replace"): v.decode("utf-8", "replace")
        for k, v in raw.items()
    }


def parquet_metadata(
    spark: SparkSession, *paths: str, parallelism: Optional[int] = None
) -> DataFrame:
    """One row per parquet file: block/byte/row/value/null totals,
    writer, schema string, encryption state, key-value metadata."""

    def rows(path):
        md, crypto = _footer_guarded(path)
        if crypto.encryption == "UNENCRYPTED":
            compressed = _sum_columns(md, "total_compressed_size")
            uncompressed = sum(
                md.row_group(g).total_byte_size for g in range(md.num_row_groups)
            )
            values, nulls = _sum_columns(md, "num_values"), _null_count(md)
        else:
            # chunk-level metadata is unreadable without keys: null the
            # chunk-derived sums (reference ParquetSuite.scala:373-377
            # expects exactly this row)
            compressed = uncompressed = values = nulls = None
        yield (
            path,
            md.num_row_groups,
            compressed,
            uncompressed,
            md.num_rows,
            md.num_columns,
            values,
            nulls,
            md.created_by,
            str(md.schema).split("\n", 1)[-1],
            crypto.encryption,
            _key_values(md),
        )

    return map_rows(
        _files_df(spark, paths, parallelism),
        "filename string, blocks int, compressedBytes long, uncompressedBytes long, "
        "rows long, columns int, `values` long, nulls long, createdBy string, "
        "schema string, encryption string, keyValues map<string,string>",
        rows,
    )


def parquet_schema(
    spark: SparkSession, *paths: str, parallelism: Optional[int] = None
) -> DataFrame:
    """One row per leaf column of each file's parquet schema."""

    def rows(path):
        md, _crypto = _footer_guarded(path)
        for i in range(md.num_columns):
            col = md.schema.column(i)
            yield (
                path,
                col.name,
                list(col.path.split(".")),
                # pyarrow exposes def/rep levels, not the raw repetition;
                # derive the common cases
                "REPEATED" if col.max_repetition_level > 0
                else ("REQUIRED" if col.max_definition_level == 0 else "OPTIONAL"),
                col.physical_type,
                col.length if col.physical_type == "FIXED_LEN_BYTE_ARRAY" else None,
                None if col.converted_type in (None, "NONE") else str(col.converted_type),
                None if col.logical_type is None or col.logical_type.type == "NONE"
                else str(col.logical_type),
                True,
                col.physical_type,
                "TYPE_DEFINED_ORDER",
                col.max_definition_level,
                col.max_repetition_level,
            )

    return map_rows(
        _files_df(spark, paths, parallelism),
        "filename string, columnName string, columnPath array<string>, "
        "repetition string, type string, length int, originalType string, "
        "logicalType string, isPrimitive boolean, primitiveType string, "
        "primitiveOrder string, maxDefinitionLevel int, maxRepetitionLevel int",
        rows,
    )


def parquet_blocks(
    spark: SparkSession, *paths: str, parallelism: Optional[int] = None
) -> DataFrame:
    """One row per row group (1-based ``block`` ordinal)."""

    def rows(path):
        md, crypto = _footer_guarded(path)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if crypto.encryption != "UNENCRYPTED":
                # chunk metadata unreadable: blockStart comes from the
                # plaintext RowGroup.file_offset, the rest of the
                # chunk-derived fields are null (reference
                # ParquetSuite.scala:388-391)
                yield (path, g + 1, crypto.row_group_offsets[g], None,
                       rg.total_byte_size, rg.num_rows, rg.num_columns, None, None)
                continue
            cols = [rg.column(c) for c in range(rg.num_columns)]
            nulls = None
            if all(c.statistics is not None and c.statistics.null_count is not None
                   for c in cols):
                nulls = sum(c.statistics.null_count for c in cols)
            yield (
                path,
                g + 1,
                min(_chunk_start(c) for c in cols),
                sum(c.total_compressed_size for c in cols),
                rg.total_byte_size,
                rg.num_rows,
                rg.num_columns,
                sum(c.num_values for c in cols),
                nulls,
            )

    return map_rows(
        _files_df(spark, paths, parallelism),
        "filename string, block int, blockStart long, compressedBytes long, "
        "uncompressedBytes long, rows long, columns int, `values` long, nulls long",
        rows,
    )


def parquet_block_columns(
    spark: SparkSession, *paths: str, parallelism: Optional[int] = None
) -> DataFrame:
    """One row per column chunk of each row group."""

    def rows(path):
        md, crypto = _footer_guarded(path)
        if crypto.encryption != "UNENCRYPTED":
            # column paths come from the (plaintext) schema; every
            # chunk-level field is unreadable → null, with the per-chunk
            # encrypted flag from the footer scan (reference
            # ParquetSuite.scala:392-397)
            for g in range(md.num_row_groups):
                for c in range(md.num_columns):
                    yield (path, g + 1, list(md.schema.column(c).path.split(".")),
                           None, None, None, crypto.is_encrypted(g, c),
                           None, None, None, None, None, None, None)
            return
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                stats = col.statistics
                yield (
                    path,
                    g + 1,
                    list(col.path_in_schema.split(".")),
                    col.compression,
                    col.physical_type,
                    sorted(set(col.encodings)),
                    False,
                    None if stats is None else repr(stats.min),
                    None if stats is None else repr(stats.max),
                    _chunk_start(col),
                    col.total_compressed_size,
                    col.total_uncompressed_size,
                    col.num_values,
                    None if stats is None else stats.null_count,
                )

    return map_rows(
        _files_df(spark, paths, parallelism),
        "filename string, block int, column array<string>, codec string, "
        "type string, encodings array<string>, encrypted boolean, "
        "minValue string, maxValue string, columnStart long, "
        "compressedBytes long, uncompressedBytes long, `values` long, nulls long",
        rows,
    )


def _chunk_start(col) -> int:
    start = col.dictionary_page_offset
    if start is None or start <= 0:
        start = col.data_page_offset
    return start


# ---------------------------------------------------------------------------
# Spark split planning (parquet_partitions)
# ---------------------------------------------------------------------------


def _split_plan(spark: SparkSession, files: List[Tuple[str, int]]):
    """Replicate Spark's FilePartition planning: compute maxSplitBytes,
    slice files, sort splits by length descending, greedy-pack."""
    conf = spark.conf

    def bytes_conf(key: str, default: int) -> int:
        raw = conf.get(key, str(default))
        return _parse_bytes(raw)

    max_partition_bytes = bytes_conf("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    open_cost = bytes_conf("spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    min_partitions = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    total = sum(size + open_cost for _, size in files)
    bytes_per_core = total // min_partitions
    max_split = min(max_partition_bytes, max(open_cost, bytes_per_core))

    splits = []
    for path, size in files:
        offset = 0
        while offset < size:
            length = min(max_split, size - offset)
            splits.append((path, size, offset, length))
            offset += length
    splits.sort(key=lambda s: s[3], reverse=True)

    partitions: List[List[Tuple[str, int, int, int]]] = []
    current: List[Tuple[str, int, int, int]] = []
    current_size = 0
    for split in splits:
        if current and current_size + split[3] > max_split:
            partitions.append(current)
            current, current_size = [], 0
        current.append(split)
        current_size += split[3] + open_cost
    if current:
        partitions.append(current)
    return partitions


def _parse_bytes(raw: str) -> int:
    """Parse Spark byte-size strings: both the one-letter form ('128m')
    and the two-letter form Spark's docs use ('128MB'), plus t/p."""
    text = str(raw).strip().lower()
    if text.endswith("b"):
        text = text[:-1]
    for suffix, mult in (
        ("k", 1024),
        ("m", 1024**2),
        ("g", 1024**3),
        ("t", 1024**4),
        ("p", 1024**5),
    ):
        if text.endswith(suffix):
            return int(float(text[: -len(suffix)]) * mult)
    return int(text)


def parquet_partitions(
    spark: SparkSession, *paths: str, parallelism: Optional[int] = None
) -> DataFrame:
    """One row per (Spark partition, file split): which row groups each
    split reads under the block-midpoint rule, with byte/row totals."""
    files = _list_files(paths)
    plan = [
        (idx, path, size, start, length)
        for idx, part in enumerate(_split_plan(spark, files))
        for (path, size, start, length) in part
    ]
    n = parallelism or min(len(plan), spark.sparkContext.defaultParallelism) or 1
    plan_df = spark.createDataFrame(
        plan, "partition int, path string, size long, start long, length long"
    ).repartition(n)

    def rows(part, path, size, start, length):
        md, crypto = _footer_guarded(path)
        if crypto.encryption != "UNENCRYPTED":
            # split planning needs per-chunk starts/sizes, which are
            # unreadable without keys — the reference throws here too
            # (ParquetSuite.scala:398-400)
            raise ValueError(
                f"cannot compute partitions for parquet file with "
                f"encrypted column chunks: {path}"
            )
        blocks = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            cols = [rg.column(c) for c in range(rg.num_columns)]
            block_start = min(_chunk_start(c) for c in cols)
            compressed = sum(c.total_compressed_size for c in cols)
            mid = block_start + compressed // 2
            if start <= mid < start + length:
                blocks.append((rg, cols, compressed))
        nulls = None
        if all(c.statistics is not None and c.statistics.null_count is not None
               for _, cols, _ in blocks for c in cols):
            nulls = sum(c.statistics.null_count for _, cols, _ in blocks for c in cols)
        yield (
            part,
            start,
            start + length,
            length,
            len(blocks),
            sum(c for _, _, c in blocks),
            sum(rg.total_byte_size for rg, _, _ in blocks),
            sum(rg.num_rows for rg, _, _ in blocks),
            max((rg.num_columns for rg, _, _ in blocks), default=0),
            sum(c.num_values for _, cols, _ in blocks for c in cols),
            nulls,
            path,
            size,
        )

    return map_rows(
        plan_df,
        "partition int, start long, end long, length long, blocks int, "
        "compressedBytes long, uncompressedBytes long, rows long, columns int, "
        "`values` long, nulls long, filename string, fileLength long",
        rows,
    )
