"""Query registry: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle SQL string computing the same result with the same column
names.  This feeds ``__spark_entry__.py`` (driver correctness gate) and
``bench.py`` (throughput).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import (
    UNIX_EPOCH_DOTNET_TICKS,
    dotnet_ticks_to_timestamp,
    dotnet_ticks_to_unix_epoch_nanos,
    unix_epoch_nanos_to_dotnet_ticks,
)
from .operators.diff import diff
from .operators.histogram import histogram
from .operators.row_numbers import with_row_numbers
from .utils import count_null

Query = Callable[[SparkSession, str], DataFrame]

QUERIES: Dict[str, Query] = {}
ORACLES: Dict[str, str] = {}


def register(name: str, oracle: str = None):
    def wrap(fn: Query) -> Query:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return wrap


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "events":
        # events.ts has shipped as INT64 TIMESTAMP(NANOS) in some testdata
        # generations (which Spark 4 refuses by default — read as raw
        # nanosecond longs) and as TIMESTAMP(MICROS) in others (which Spark
        # reads as TIMESTAMP/TIMESTAMP_NTZ).  Normalize every variant to
        # the library contract: ts = nanoseconds since the epoch, as LONG.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "timestamp_ntz":
            # timestampdiff is timezone-independent on NTZ values, matching
            # DuckDB's epoch_us() on the same (naive) parquet timestamps;
            # an ntz->timestamp cast would shift by the session timezone.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
                * F.lit(1000),
            )
        elif ts_type == "timestamp":
            df = df.withColumn("ts", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


# ---------------------------------------------------------------------------
# diff — flagship.  Left/right are deterministic splits+mutations of
# lineitem so every action I/C/D/N occurs; ids (l_orderkey, l_linenumber).
# ---------------------------------------------------------------------------

_LINEITEM_VALUE_COLUMNS = [
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


def _diff_inputs(spark: SparkSession, sf_dir: str):
    li = load(spark, sf_dir, "lineitem")
    left = li.where(F.col("l_orderkey") % 10 != 7)
    right = li.where(F.col("l_orderkey") % 10 != 3).withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 7 == 0, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    return left, right


_DIFF_ORACLE = """
WITH lft AS (
  SELECT *, 1 AS ex FROM lineitem WHERE l_orderkey % 10 <> 7
), rgt AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
         l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
         1 AS ex
  FROM lineitem WHERE l_orderkey % 10 <> 3
)
SELECT
  CASE
    WHEN l.ex IS NULL THEN 'I'
    WHEN r.ex IS NULL THEN 'D'
    WHEN NOT ({unchanged}) THEN 'C'
    ELSE 'N'
  END AS diff,
  COALESCE(l.l_orderkey, r.l_orderkey) AS l_orderkey,
  COALESCE(l.l_linenumber, r.l_linenumber) AS l_linenumber,
  {values}
FROM lft l
FULL OUTER JOIN rgt r
  ON l.l_orderkey IS NOT DISTINCT FROM r.l_orderkey
 AND l.l_linenumber IS NOT DISTINCT FROM r.l_linenumber
""".format(
    unchanged=" AND ".join(
        f"l.{c} IS NOT DISTINCT FROM r.{c}" for c in _LINEITEM_VALUE_COLUMNS
    ),
    values=",\n  ".join(
        f"l.{c} AS left_{c}, r.{c} AS right_{c}" for c in _LINEITEM_VALUE_COLUMNS
    ),
)


@register("diff_lineitem", _DIFF_ORACLE)
def q_diff_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    left, right = _diff_inputs(spark, sf_dir)
    return diff(left, right, "l_orderkey", "l_linenumber")


_DIFF_STATS_ORACLE = """
WITH lft AS (
  SELECT *, 1 AS ex FROM lineitem WHERE l_orderkey % 10 <> 7
), rgt AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
         l_partkey, l_suppkey, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate, 1 AS ex
  FROM lineitem WHERE l_orderkey % 10 <> 3
), d AS (
  SELECT CASE
    WHEN l.ex IS NULL THEN 'I'
    WHEN r.ex IS NULL THEN 'D'
    WHEN NOT ({unchanged}) THEN 'C'
    ELSE 'N' END AS diff
  FROM lft l
  FULL OUTER JOIN rgt r
    ON l.l_orderkey IS NOT DISTINCT FROM r.l_orderkey
   AND l.l_linenumber IS NOT DISTINCT FROM r.l_linenumber
)
SELECT diff, count(*) AS cnt FROM d GROUP BY diff ORDER BY diff
""".format(
    unchanged=" AND ".join(
        f"l.{c} IS NOT DISTINCT FROM r.{c}" for c in _LINEITEM_VALUE_COLUMNS
    )
)


@register("diff_lineitem_stats", _DIFF_STATS_ORACLE)
def q_diff_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff-App ``--statistics`` shape: action counts (App.scala:280-281)."""
    left, right = _diff_inputs(spark, sf_dir)
    return (
        diff(left, right, "l_orderkey", "l_linenumber")
        .groupBy("diff")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("diff")
    )


# ---------------------------------------------------------------------------
# histogram — binned counts of l_extendedprice per return flag
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_extendedprice <= 20000 THEN 1 ELSE 0 END) AS BIGINT) AS "≤20000",
       CAST(SUM(CASE WHEN l_extendedprice > 20000 AND l_extendedprice <= 40000 THEN 1 ELSE 0 END) AS BIGINT) AS "≤40000",
       CAST(SUM(CASE WHEN l_extendedprice > 40000 AND l_extendedprice <= 60000 THEN 1 ELSE 0 END) AS BIGINT) AS "≤60000",
       CAST(SUM(CASE WHEN l_extendedprice > 60000 THEN 1 ELSE 0 END) AS BIGINT) AS ">60000"
FROM lineitem
GROUP BY l_returnflag
"""


@register("histogram_lineitem_price", _HISTOGRAM_ORACLE)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return histogram(li, [20000, 40000, 60000], "l_extendedprice", "l_returnflag")


# ---------------------------------------------------------------------------
# global row numbers — scalable algorithm vs ROW_NUMBER() window oracle
# ---------------------------------------------------------------------------

_ROW_NUMBERS_ORACLE = """
SELECT o_orderkey, o_orderdate,
       CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS row_number
FROM orders
"""


@register("row_numbers_orders", _ROW_NUMBERS_ORACLE)
def q_row_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return with_row_numbers(orders, order=["o_orderdate", "o_orderkey"])


# ---------------------------------------------------------------------------
# .Net ticks conversions over the events table
# ---------------------------------------------------------------------------

# Spark reads ts as nanosecond longs (see load()); DuckDB truncates
# TIMESTAMP_NS parquet to µs on read, so truncate the Spark side to µs
# before converting — then both engines agree exactly.
_TICKS_ORACLE = f"""
SELECT event_id,
       epoch_us(ts) * 10 + {UNIX_EPOCH_DOTNET_TICKS} AS ticks,
       make_timestamp(epoch_us(ts)) AS ts_back,
       epoch_us(ts) * 1000 AS epoch_nanos
FROM events
"""


@register("ticks_events", _TICKS_ORACLE)
def q_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    ns_at_us = (F.col("ts") - F.col("ts") % 1000).alias("ns")
    ticks = unix_epoch_nanos_to_dotnet_ticks(ns_at_us)
    return events.select(
        "event_id",
        ticks.alias("ticks"),
        dotnet_ticks_to_timestamp(ticks).alias("ts_back"),
        dotnet_ticks_to_unix_epoch_nanos(ticks).alias("epoch_nanos"),
    )


# ---------------------------------------------------------------------------
# count_null — scalar aggregate sanity over events
# ---------------------------------------------------------------------------

_COUNT_NULL_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE value IS NULL) AS BIGINT) AS value_nulls,
       CAST(COUNT(*) FILTER (WHERE props IS NULL) AS BIGINT) AS props_nulls
FROM events
"""


@register("count_null_events", _COUNT_NULL_ORACLE)
def q_count_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return events.select(
        F.count(F.lit(1)).alias("n_rows"),
        count_null("value").alias("value_nulls"),
        count_null("props").alias("props_nulls"),
    )


# ---------------------------------------------------------------------------
# sorted groups — per-order running quantity sum over sorted lineitems,
# in both execution paths (lazy RDD iterator / Arrow applyInPandas),
# against a window-function oracle
# ---------------------------------------------------------------------------

# (l_orderkey, l_linenumber) is NOT unique in the testdata; ordering by
# (l_linenumber, l_quantity) makes the emitted multiset deterministic —
# rows tied on the full sort key contribute identical increments.
_RUNNING_SUM_ORACLE = """
SELECT l_orderkey, l_linenumber,
       SUM(l_quantity) OVER (
         PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
FROM lineitem
"""

_RUNNING_SUM_SCHEMA = "l_orderkey long, l_linenumber int, run_qty double"


@register("sorted_groups_running_sum", _RUNNING_SUM_ORACLE)
def q_sorted_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sorted_groups import group_by_sorted

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )

    def running(key, rows):
        total = 0.0
        for r in rows:
            total += r["l_quantity"]
            yield (key[0], r["l_linenumber"], total)

    return group_by_sorted(
        li, "l_orderkey", ["l_linenumber", "l_quantity"]
    ).flat_map_sorted_groups(running, _RUNNING_SUM_SCHEMA)


# The Arrow path shines with bounded group counts: group by supplier
# (~1k groups at sf0.1) rather than order (~150k tiny groups, where
# per-group pandas overhead dominates; use the lazy RDD path there).
_RUNNING_SUM_SUPP_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       SUM(l_quantity) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
FROM lineitem
"""


@register("sorted_groups_running_sum_pandas", _RUNNING_SUM_SUPP_ORACLE)
def q_sorted_groups_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sorted_groups import group_by_sorted

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )

    def running(key, pdf):
        out = pdf[["l_suppkey", "l_orderkey", "l_linenumber"]].copy()
        out["run_qty"] = pdf["l_quantity"].cumsum()
        return out

    return group_by_sorted(
        li, "l_suppkey", ["l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"]
    ).apply_in_pandas(
        running, "l_suppkey long, l_orderkey long, l_linenumber int, run_qty double"
    )


# Lambda-keyed variant (reference package.scala:865-919): key and order are
# opaque row functions, shuffled once via repartitionAndSortWithinPartitions.
# The lambda here is SQL-expressible on purpose so the oracle can replicate
# it; real users would pass genuinely non-columnar keys.
# orders (unique key, 1/4 the rows of lineitem): the lambda path ships
# every row through Python pickle by definition — the reference's own
# documented slow path — so the gate exercises it on the smaller table
# while the column-keyed gates cover lineitem
_RUNNING_SUM_LAMBDA_ORACLE = """
SELECT o_orderkey % 97 AS bucket, o_orderkey,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_orderkey % 97
         ORDER BY o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS VARCHAR) AS DOUBLE) AS run_price
FROM orders
"""


@register("sorted_groups_lambda_running_sum", _RUNNING_SUM_LAMBDA_ORACLE)
def q_sorted_groups_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sorted_groups import group_by_key_sorted

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def running(key, rows):
        # integer-cent accumulator: prices are 2-decimal, so the running
        # total is exact and order-stable, and cents/100.0 is the
        # correctly-rounded double of the decimal total — bit-identical
        # to the SQL window's DECIMAL(18,2) running sum
        cents = 0
        for r in rows:
            cents += int(round(r["o_totalprice"] * 100))
            yield (key, r["o_orderkey"], cents / 100.0)

    return group_by_key_sorted(
        orders,
        key=lambda r: r["o_orderkey"] % 97,
        order=lambda r: r["o_orderkey"],
    ).flat_map_sorted_groups(
        running, "bucket long, o_orderkey long, run_price double"
    )


# ---------------------------------------------------------------------------
# partitioned write — layout write + read-back equivalence
# ---------------------------------------------------------------------------

_WRITE_READ_BACK_ORACLE = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
"""


@register("write_partitioned_read_back", _WRITE_READ_BACK_ORACLE)
def q_write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .sources.partitioned_write import write_partitioned_by

    orders = load(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="spark_ext_write_") + "/orders"
    write_partitioned_by(
        orders, ["o_orderstatus"], more_file_order=["o_orderkey"]
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        # decimal sum: a parallel double sum's last ulp depends on the
        # partition fold order, so the hash would vary across sessions
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


# ---------------------------------------------------------------------------
# parquet metadata sources — oracle-checked against DuckDB's own parquet
# introspection functions.  Oracle SQL is static, so it pins the sf0.01
# path (the driver's t2 scale); the Spark side follows sf_dir.
# ---------------------------------------------------------------------------

_T2 = "/root/testdata/sf0.01"

_PQ_META_ORACLE = f"""
WITH rg AS (
  SELECT file_name, row_group_id,
         MAX(row_group_num_rows) AS rg_rows,
         MAX(row_group_num_columns) AS rg_cols,
         MAX(row_group_bytes) AS rg_bytes,
         SUM(total_compressed_size) AS rg_comp,
         SUM(num_values) AS rg_values,
         SUM(stats_null_count) AS rg_nulls,
         COUNT(*) FILTER (WHERE stats_null_count IS NULL) AS missing_stats
  FROM parquet_metadata('{_T2}/lineitem.parquet')
  GROUP BY 1, 2
)
SELECT regexp_extract(r.file_name, '[^/]+$') AS filename,
       CAST(COUNT(*) AS INT) AS blocks,
       CAST(SUM(rg_comp) AS BIGINT) AS "compressedBytes",
       CAST(SUM(rg_bytes) AS BIGINT) AS "uncompressedBytes",
       CAST(SUM(rg_rows) AS BIGINT) AS rows,
       CAST(MAX(rg_cols) AS INT) AS columns,
       CAST(SUM(rg_values) AS BIGINT) AS "values",
       CAST(CASE WHEN SUM(missing_stats) = 0 THEN SUM(rg_nulls) END AS BIGINT) AS nulls,
       MAX(f.created_by) AS "createdBy"
FROM rg r
JOIN parquet_file_metadata('{_T2}/lineitem.parquet') f USING (file_name)
GROUP BY r.file_name
"""


@register("parquet_metadata_lineitem", _PQ_META_ORACLE)
def q_parquet_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.parquet_metadata import parquet_metadata

    return parquet_metadata(spark, f"{sf_dir}/lineitem.parquet").select(
        F.element_at(F.split("filename", "/"), -1).alias("filename"),
        "blocks", "compressedBytes", "uncompressedBytes",
        "rows", "columns", "values", "nulls", "createdBy",
    )


_PQ_BLOCKS_ORACLE = f"""
SELECT regexp_extract(file_name, '[^/]+$') AS filename,
       CAST(row_group_id + 1 AS INT) AS block,
       CAST(MIN(CASE WHEN dictionary_page_offset IS NOT NULL AND dictionary_page_offset > 0
                     THEN dictionary_page_offset ELSE data_page_offset END) AS BIGINT) AS "blockStart",
       CAST(SUM(total_compressed_size) AS BIGINT) AS "compressedBytes",
       CAST(MAX(row_group_bytes) AS BIGINT) AS "uncompressedBytes",
       CAST(MAX(row_group_num_rows) AS BIGINT) AS rows,
       CAST(MAX(row_group_num_columns) AS INT) AS columns,
       CAST(SUM(num_values) AS BIGINT) AS "values",
       CAST(CASE WHEN COUNT(*) FILTER (WHERE stats_null_count IS NULL) = 0
                 THEN SUM(stats_null_count) END AS BIGINT) AS nulls
FROM parquet_metadata('{_T2}/lineitem.parquet')
GROUP BY file_name, row_group_id
"""


@register("parquet_blocks_lineitem", _PQ_BLOCKS_ORACLE)
def q_parquet_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.parquet_metadata import parquet_blocks

    df = parquet_blocks(spark, f"{sf_dir}/lineitem.parquet")
    return df.withColumn("filename", F.element_at(F.split("filename", "/"), -1))


_PQ_SCHEMA_ORACLE = f"""
SELECT regexp_extract(file_name, '[^/]+$') AS filename, name AS "columnName", type
FROM parquet_schema('{_T2}/lineitem.parquet')
WHERE num_children IS NULL
"""


@register("parquet_schema_lineitem", _PQ_SCHEMA_ORACLE)
def q_parquet_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.parquet_metadata import parquet_schema

    return parquet_schema(spark, f"{sf_dir}/lineitem.parquet").select(
        F.element_at(F.split("filename", "/"), -1).alias("filename"),
        "columnName", "type",
    )


# split-plan-invariant aggregate: whatever maxPartitionBytes /
# parallelism produced the split plan, the partitions must tile the file
# exactly ([0, fileLength) with no gap/overlap — the two boolean
# invariants) and every row group must land in exactly one partition
# (the block/byte/row/value sums, checked against DuckDB's parquet
# metadata).  The split math itself is additionally pinned against
# Spark's real FilePartition planning in pytest under two configs.
_PQ_PARTITIONS_PATH = f"{_T2}/lineitem.parquet"
_PQ_PARTITIONS_ORACLE = f"""
SELECT CAST(0 AS BIGINT) AS min_start,
       CAST(fm.num_row_groups AS BIGINT) AS total_blocks,
       (SELECT CAST(SUM(total_compressed_size) AS BIGINT)
          FROM parquet_metadata('{_PQ_PARTITIONS_PATH}')) AS total_compressed,
       (SELECT CAST(SUM(total_uncompressed_size) AS BIGINT)
          FROM parquet_metadata('{_PQ_PARTITIONS_PATH}')) AS total_uncompressed,
       CAST(fm.num_rows AS BIGINT) AS total_rows,
       (SELECT CAST(SUM(num_values) AS BIGINT)
          FROM parquet_metadata('{_PQ_PARTITIONS_PATH}')) AS total_values,
       CAST(1 AS BIGINT) AS n_files,
       TRUE AS spans_file,
       TRUE AS covers_file
FROM parquet_file_metadata('{_PQ_PARTITIONS_PATH}') fm
"""


@register("parquet_partitions_lineitem", _PQ_PARTITIONS_ORACLE)
def q_parquet_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.parquet_metadata import parquet_partitions

    parts = parquet_partitions(spark, f"{sf_dir}/lineitem.parquet")
    return parts.agg(
        F.min("start").alias("min_start"),
        F.sum("blocks").alias("total_blocks"),
        F.sum("compressedBytes").alias("total_compressed"),
        F.sum("uncompressedBytes").alias("total_uncompressed"),
        F.sum("rows").alias("total_rows"),
        F.sum("values").alias("total_values"),
        F.countDistinct("filename").alias("n_files"),
        (F.max("end") == F.max("fileLength")).alias("spans_file"),
        (F.sum("length") == F.max("fileLength")).alias("covers_file"),
    )


# ---------------------------------------------------------------------------
# text analysis over documents
# ---------------------------------------------------------------------------

from .operators import text as _text  # noqa: E402
from .operators import dedup as _dedup  # noqa: E402

_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

_TEXT_STATS_ORACLE = f"""
SELECT doc_id,
       len(text) AS n_chars,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       CASE WHEN len(text) > 0
            THEN CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / len(text)
            ELSE 0.0 END AS digit_ratio,
       md5({_NORM_SQL}) AS fp
FROM documents
"""


@register("text_stats_documents", _TEXT_STATS_ORACLE)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    m = _text.quality_metrics("text")
    return docs.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        m["digit_ratio"].alias("digit_ratio"),
        _text.fingerprint("text").alias("fp"),
    )


_LANG_ID_ORACLE = f"""
SELECT lang, {_text.language_id_sql('text')} AS guess,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM documents
GROUP BY lang, guess
"""


@register("language_id_documents", _LANG_ID_ORACLE)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", _text.language_id("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# dedup over documents ∪ deterministic mutated copies
# ---------------------------------------------------------------------------


def _docs_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # every 5th doc re-appears uppercased: an exact dup after normalization
    dups = (
        docs.where(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), F.upper("text").alias("text"))
    )
    return docs.unionAll(dups)


_EXACT_DUPS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, upper(text) AS text
FROM documents WHERE doc_id % 5 = 0
"""

_DEDUP_CLUSTERS_ORACLE = f"""
WITH corpus AS ({_EXACT_DUPS_SQL})
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       MIN(doc_id) AS representative
FROM corpus
GROUP BY 1
HAVING COUNT(*) > 1
"""


@register("dedup_clusters_documents", _DEDUP_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.duplicate_clusters(_docs_with_exact_dups(spark, sf_dir))


def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz7 qq9 extra suffix tokens")).alias("text"),
        )
    )
    return docs.unionAll(near)


_NEAR_DUPS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 200000 AS doc_id, text || ' zz7 qq9 extra suffix tokens' AS text
FROM documents WHERE doc_id % 7 = 0
"""

# shared CTE block: corpus-with-planted-near-dups -> qualifying pairs
# (reused verbatim by the connected-components oracle below)
_NGRAM_PAIR_CTES = f"""corpus AS ({_NEAR_DUPS_SQL}),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM corpus
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b, common,
         sa.n_shingles AS size_a, sb.n_shingles AS size_b,
         CAST(common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - common) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - common) >= 0.6
)"""

_NGRAM_JACCARD_ORACLE = f"""
WITH {_NGRAM_PAIR_CTES}
SELECT id_a, id_b, common, size_a, size_b, jaccard FROM pairs
"""


@register("ngram_jaccard_documents", _NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.ngram_jaccard_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, threshold=0.6
    )


def _minhash_oracle(num_hashes: int) -> str:
    mins = ",\n       ".join(
        f"MIN(({a} * h + {b}) % {_dedup.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(_dedup.minhash_params(num_hashes))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
hashed AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(shingle), 1, 8)) AS BIGINT) % 2147483648 AS h
  FROM sh
)
SELECT doc_id,
       {mins}
FROM hashed
GROUP BY doc_id
"""


@register("minhash_signatures_documents", _minhash_oracle(8))
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return _dedup.minhash_signatures(docs, num_hashes=8)


def _simhash_oracle(bits: int = 64) -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN ({'hi' if i < 32 else 'lo'} >> {i % 32}) % 2 = 1 THEN 1 ELSE -1 END) AS bit_{i}"
        for i in range(bits)
    )
    weights = " + ".join(
        f"CASE WHEN bit_{i} > 0 THEN CAST({-(1 << 63) if i == 63 else (1 << i)} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(token), 1, 8)) AS BIGINT) AS hi,
         CAST(CONCAT('0x', substr(md5(token), 9, 8)) AS BIGINT) AS lo
  FROM toks WHERE token <> ''
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {weights} AS simhash
FROM votes
"""


@register("simhash_documents", _simhash_oracle())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return _dedup.simhash(docs)


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

from .operators import similarity as _sim  # noqa: E402

_TOPK_ORACLE = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine
  FROM embeddings q
  JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % 50 = 0
)
SELECT query_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


@register("similarity_topk_embeddings", _TOPK_ORACLE)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return _sim.brute_force_topk(emb, queries, k=5)


_NEAR_DUP_EMB_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(embedding::DOUBLE[], x -> x * 1.1) AS embedding
  FROM embeddings WHERE vec_id % 3 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_cosine_similarity(a.embedding, b.embedding) AS cosine
FROM corpus a
JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999
"""


@register("embedding_near_dup_pairs", _NEAR_DUP_EMB_ORACLE)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    as_double = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    scaled = emb.where(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.1).alias("embedding"),
    )
    corpus = as_double.unionAll(scaled)
    # num_planes pinned at the historical default: the operator's
    # num_planes=None path now derives ⌈log₂N⌉+1 from a count job
    # (round-12 self-tuning); the pin keeps this gate's plan and hash
    # byte-identical to every prior round
    return _sim.embedding_near_dup_pairs(corpus, threshold=0.999, num_planes=12)


@register("similarity_lsh_topk_embeddings")  # approximate: rows-only check
def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return _sim.rp_lsh_topk(emb, queries, k=5, num_planes=8, probes=1)


# ---------------------------------------------------------------------------
# multimodal — blob plumbing + stub decode over fake image containers
# ---------------------------------------------------------------------------

from .operators import multimodal as _mm  # noqa: E402

_MM_ORACLE = """
SELECT doc_id,
       CAST(doc_id % 64 + 1 AS INT) AS width,
       CAST(doc_id % 48 + 1 AS INT) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       CAST(octet_length(encode('IMG1|' || (doc_id % 64 + 1) || '|' || (doc_id % 48 + 1) || '|' || text)) AS BIGINT) AS size_bytes,
       'fake-image' AS format
FROM documents
"""


@register("multimodal_decode_documents", _MM_ORACLE)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id",
        _mm.make_fake_image_blob(
            F.col("text"), F.col("doc_id") % 64 + 1, F.col("doc_id") % 48 + 1
        ).alias("blob"),
    )
    meta = _mm.with_blob_metadata(blobs).select(
        F.col("doc_id").alias("meta_id"),
        F.col("m_size_bytes").alias("size_bytes"),
        F.col("m_format").alias("format"),
    )
    decoded = _mm.decode_images(blobs)
    return decoded.join(meta, decoded["doc_id"] == meta["meta_id"]).select(
        "doc_id", "width", "height", "payload_bytes", "size_bytes", "format"
    )


# full SQL replica of the IVF pipeline — every stage is deterministic:
# centroids are the 16 lowest-id vectors (cell = rank by vec_id), corpus
# rows assign to their single nearest centroid (cosine desc, cell asc —
# the kernel's stable argsort order), queries probe their 4 nearest
# cells, and exact cosine ranks candidates
_IVF_ORACLE = """
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
corpus AS (
  SELECT e.vec_id, e.embedding AS v, c.cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC, c.cell) AS rnk
  FROM embeddings e CROSS JOIN cents c
  QUALIFY rnk <= 1
),
queries AS (
  SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC, c.cell) AS rnk
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id % 50 = 0
  QUALIFY rnk <= 4
),
candidates AS (
  SELECT DISTINCT q.query_id, c.vec_id, q.qv, c.v
  FROM corpus c JOIN queries q USING (cell)
  WHERE c.vec_id <> q.query_id
),
scored AS (
  SELECT query_id, vec_id,
         list_cosine_similarity(qv::DOUBLE[], v::DOUBLE[]) AS cosine
  FROM candidates
)
SELECT query_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


@register("similarity_ivf_topk_embeddings", _IVF_ORACLE)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return _sim.ivf_topk(emb, queries, k=5, n_centroids=16, n_probes=4)


# ---------------------------------------------------------------------------
# diff surface breadth: sparse mode, LeftSide mode, set-diff (no ids),
# epsilon comparator — each against an exact SQL oracle
# ---------------------------------------------------------------------------

from .operators.diff import DiffMode, DiffOptions  # noqa: E402
from .operators.comparators import DiffComparators  # noqa: E402


_DIFF_SPARSE_ORACLE = """
WITH lft AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 1 AS ex FROM orders WHERE o_orderkey % 10 <> 7
), rgt AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5 ELSE o_totalprice END AS o_totalprice,
         1 AS ex
  FROM orders WHERE o_orderkey % 10 <> 3
)
SELECT
  CASE WHEN l.ex IS NULL THEN 'I' WHEN r.ex IS NULL THEN 'D'
       WHEN NOT (l.o_custkey IS NOT DISTINCT FROM r.o_custkey
             AND l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice) THEN 'C'
       ELSE 'N' END AS diff,
  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
  CASE WHEN l.o_custkey IS NOT DISTINCT FROM r.o_custkey THEN NULL ELSE l.o_custkey END AS left_o_custkey,
  CASE WHEN l.o_custkey IS NOT DISTINCT FROM r.o_custkey THEN NULL ELSE r.o_custkey END AS right_o_custkey,
  CASE WHEN l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice THEN NULL ELSE l.o_totalprice END AS left_o_totalprice,
  CASE WHEN l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice THEN NULL ELSE r.o_totalprice END AS right_o_totalprice
FROM lft l FULL OUTER JOIN rgt r ON l.o_orderkey IS NOT DISTINCT FROM r.o_orderkey
"""


def _orders_pair(spark: SparkSession, sf_dir: str):
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    left = orders.where(F.col("o_orderkey") % 10 != 7)
    right = orders.where(F.col("o_orderkey") % 10 != 3).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 5).otherwise(
            F.col("o_totalprice")
        ),
    )
    return left, right


@register("diff_sparse_orders", _DIFF_SPARSE_ORACLE)
def q_diff_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    left, right = _orders_pair(spark, sf_dir)
    return diff(left, right, "o_orderkey", options=DiffOptions().with_sparse_mode(True))


_DIFF_LEFT_SIDE_ORACLE = """
WITH lft AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 1 AS ex FROM orders WHERE o_orderkey % 10 <> 7
), rgt AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5 ELSE o_totalprice END AS o_totalprice,
         1 AS ex
  FROM orders WHERE o_orderkey % 10 <> 3
)
SELECT
  CASE WHEN l.ex IS NULL THEN 'I' WHEN r.ex IS NULL THEN 'D'
       WHEN NOT (l.o_custkey IS NOT DISTINCT FROM r.o_custkey
             AND l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice) THEN 'C'
       ELSE 'N' END AS diff,
  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
  l.o_custkey AS o_custkey,
  l.o_totalprice AS o_totalprice
FROM lft l FULL OUTER JOIN rgt r ON l.o_orderkey IS NOT DISTINCT FROM r.o_orderkey
"""


@register("diff_left_side_orders", _DIFF_LEFT_SIDE_ORACLE)
def q_diff_left_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    left, right = _orders_pair(spark, sf_dir)
    return diff(
        left, right, "o_orderkey",
        options=DiffOptions().with_diff_mode(DiffMode.LeftSide),
    )


# set-diff semantics: no id columns => all columns are the key, only
# I/D/N possible (SURVEY §2.9: diff subsumes except/intersect)
_DIFF_SET_ORACLE = """
WITH lft AS (
  SELECT n_nationkey, n_name, 1 AS ex FROM nation
), rgt AS (
  SELECT n_nationkey, CASE WHEN n_nationkey % 5 = 0 THEN lower(n_name) ELSE n_name END AS n_name,
         1 AS ex
  FROM nation
)
SELECT
  CASE WHEN l.ex IS NULL THEN 'I' WHEN r.ex IS NULL THEN 'D' ELSE 'N' END AS diff,
  COALESCE(l.n_nationkey, r.n_nationkey) AS n_nationkey,
  COALESCE(l.n_name, r.n_name) AS n_name
FROM lft l FULL OUTER JOIN rgt r
  ON l.n_nationkey IS NOT DISTINCT FROM r.n_nationkey
 AND l.n_name IS NOT DISTINCT FROM r.n_name
"""


@register("diff_set_nation", _DIFF_SET_ORACLE)
def q_diff_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mutated = nation.withColumn(
        "n_name",
        F.when(F.col("n_nationkey") % 5 == 0, F.lower("n_name")).otherwise(F.col("n_name")),
    )
    return diff(nation, mutated)


_DIFF_EPSILON_ORACLE = """
WITH lft AS (
  SELECT o_orderkey, o_totalprice, 1 AS ex FROM orders
), rgt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.02
              ELSE o_totalprice * 1.000001 END AS o_totalprice,
         1 AS ex
  FROM orders
)
SELECT
  CASE WHEN l.ex IS NULL THEN 'I' WHEN r.ex IS NULL THEN 'D'
       WHEN NOT (abs(l.o_totalprice - r.o_totalprice)
                 <= 0.0001 * greatest(abs(l.o_totalprice), abs(r.o_totalprice))) THEN 'C'
       ELSE 'N' END AS diff,
  COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
  l.o_totalprice AS left_o_totalprice,
  r.o_totalprice AS right_o_totalprice
FROM lft l FULL OUTER JOIN rgt r ON l.o_orderkey IS NOT DISTINCT FROM r.o_orderkey
"""


@register("diff_epsilon_orders", _DIFF_EPSILON_ORACLE)
def q_diff_epsilon(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    right = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 4 == 0, F.col("o_totalprice") * 1.02).otherwise(
            F.col("o_totalprice") * 1.000001
        ),
    )
    opts = DiffOptions().with_column_name_comparator(
        DiffComparators.epsilon(0.0001).as_relative().as_inclusive(), "o_totalprice"
    )
    return diff(orders, right, "o_orderkey", options=opts)


# exact dedup survivors (full rows) — min-id representative per content hash
_EXACT_DEDUP_ORACLE = f"""
WITH corpus AS ({_EXACT_DUPS_SQL})
SELECT doc_id, text FROM corpus
QUALIFY doc_id = MIN(doc_id) OVER (
  PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
"""


@register("exact_dedup_documents", _EXACT_DEDUP_ORACLE)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.exact_dedup(_docs_with_exact_dups(spark, sf_dir))


# NOTE: the column path is projected as a dot-joined STRING on both
# sides — the driver's canonicalizer sorts cells with pandas, which
# raises "unhashable type: 'list'" on array-typed cells
_PQ_BLOCK_COLS_ORACLE = f"""
SELECT regexp_extract(file_name, '[^/]+$') AS filename,
       CAST(row_group_id + 1 AS INT) AS block,
       replace(path_in_schema, ', ', '.') AS "column",
       compression AS codec,
       type,
       CAST(total_compressed_size AS BIGINT) AS "compressedBytes",
       CAST(total_uncompressed_size AS BIGINT) AS "uncompressedBytes",
       CAST(num_values AS BIGINT) AS "values"
FROM parquet_metadata('{_T2}/orders.parquet')
"""


@register("parquet_block_columns_orders", _PQ_BLOCK_COLS_ORACLE)
def q_parquet_block_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.parquet_metadata import parquet_block_columns

    return parquet_block_columns(spark, f"{sf_dir}/orders.parquet").select(
        F.element_at(F.split("filename", "/"), -1).alias("filename"),
        F.col("block"),
        F.array_join("column", ".").alias("column"),
        F.col("codec"), F.col("type"),
        F.col("compressedBytes"), F.col("uncompressedBytes"), F.col("values"),
    )


# contract of unordered row numbers: contiguous 1..N regardless of the
# (partitioning-dependent) assignment order
_ROW_NUMBERS_CONTRACT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(1 AS BIGINT) AS min_rn,
       CAST(COUNT(*) AS BIGINT) AS max_rn
FROM customer
"""


@register("row_numbers_contract_customer", _ROW_NUMBERS_CONTRACT_ORACLE)
def q_row_numbers_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    numbered = with_row_numbers(customer)
    return numbered.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("row_number").alias("n_distinct"),
        F.min("row_number").cast("long").alias("min_rn"),
        F.max("row_number").cast("long").alias("max_rn"),
    )


_DIFF_WHITESPACE_ORACLE = """
WITH lft AS (
  SELECT doc_id, text, 1 AS ex FROM documents
), rgt AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN '  ' || replace(text, ' ', '   ') || ' '
              ELSE text || ' trailing_token' END AS text,
         1 AS ex
  FROM documents
)
SELECT
  CASE WHEN l.ex IS NULL THEN 'I' WHEN r.ex IS NULL THEN 'D'
       WHEN NOT (regexp_replace(trim(l.text), '\\s+', ' ', 'g')
                 IS NOT DISTINCT FROM regexp_replace(trim(r.text), '\\s+', ' ', 'g')) THEN 'C'
       ELSE 'N' END AS diff,
  COALESCE(l.doc_id, r.doc_id) AS doc_id
FROM lft l FULL OUTER JOIN rgt r ON l.doc_id IS NOT DISTINCT FROM r.doc_id
"""


@register("diff_whitespace_documents", _DIFF_WHITESPACE_ORACLE)
def q_diff_whitespace(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("  "), F.regexp_replace("text", " ", "   "), F.lit(" ")),
        ).otherwise(F.concat(F.col("text"), F.lit(" trailing_token"))),
    )
    opts = DiffOptions().with_column_name_comparator(
        DiffComparators.string(whitespace_agnostic=True), "text"
    )
    return diff(docs, mangled, "doc_id", options=opts).select("diff", "doc_id")


# duration comparator over events-derived timestamps (ts read as ns longs;
# truncate to µs so both engines see identical instants)
_DIFF_DURATION_ORACLE = """
WITH base AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS t FROM events
), lft AS (
  SELECT event_id, t, 1 AS ex FROM base
), rgt AS (
  SELECT event_id, t + to_seconds(CAST(event_id % 120 AS BIGINT)) AS t, 1 AS ex FROM base
)
SELECT
  CASE WHEN l.ex IS NULL THEN 'I' WHEN r.ex IS NULL THEN 'D'
       WHEN NOT (abs(epoch_us(l.t) - epoch_us(r.t)) <= 60000000) THEN 'C'
       ELSE 'N' END AS diff,
  COALESCE(l.event_id, r.event_id) AS event_id
FROM lft l FULL OUTER JOIN rgt r ON l.event_id IS NOT DISTINCT FROM r.event_id
"""


@register("diff_duration_events", _DIFF_DURATION_ORACLE)
def q_diff_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    events = load(spark, sf_dir, "events")
    base = events.select(
        # integral div: ts/1000 in double would lose low bits at ~1.7e18
        "event_id", F.timestamp_micros(F.expr("ts div 1000")).alias("t")
    )
    shifted = base.withColumn(
        "t", F.col("t") + F.make_dt_interval(secs=(F.col("event_id") % 120).cast("double"))
    )
    opts = DiffOptions().with_column_name_comparator(
        DiffComparators.duration(datetime.timedelta(minutes=1)).as_inclusive(), "t"
    )
    return diff(base, shifted, "event_id", options=opts).select("diff", "event_id")


# ---------------------------------------------------------------------------
# salted join — results must equal the plain equi-join (skew machinery
# is transparent to semantics)
# ---------------------------------------------------------------------------

from .operators.skew import salted_join  # noqa: E402

_SALTED_JOIN_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@register("salted_join_lineitem_orders", _SALTED_JOIN_ORACLE)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, "o_orderkey", salt=8)
    # decimal sum: order-independent across Spark partial aggregates vs
    # DuckDB's sequential fold (quantities are integral today, but don't
    # rely on that)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
    )


def _rp_lsh_oracle(num_planes: int, dim: int, k: int, modulus: int) -> str:
    """Replicate the full sign-random-projection LSH pipeline in SQL:
    same deterministic ±1 hyperplanes, same buckets, same multi-probe
    (1-bit flips), same exact-cosine verification and ranking."""
    from .operators.similarity import rp_planes

    planes = rp_planes(num_planes, dim)
    plane_lits = ", ".join(
        "[" + ", ".join(f"{float(w)}" for w in row) + "]" for row in planes
    )
    bit_exprs = " || ".join(
        f"(CASE WHEN list_sum(list_transform(list_zip(v, p[{i + 1}]), "
        f"x -> CAST(x[1] AS DOUBLE) * x[2])) > 0 THEN '1' ELSE '0' END)"
        for i in range(num_planes)
    )
    flips = ", ".join(
        f"substr(bucket, 1, {i}) || (CASE WHEN substr(bucket, {i + 1}, 1) = '1' "
        f"THEN '0' ELSE '1' END) || substr(bucket, {i + 2}, {num_planes - i - 1})"
        for i in range(num_planes)
    )
    return f"""
WITH planes AS (SELECT [{plane_lits}]::DOUBLE[][] AS p),
corpus AS (
  SELECT vec_id, embedding AS v, ({bit_exprs}) AS bucket
  FROM embeddings, planes
),
queries AS (
  SELECT vec_id AS query_id, v AS qv, unnest([bucket, {flips}]) AS bucket
  FROM corpus WHERE vec_id % {modulus} = 0
),
candidates AS (
  SELECT DISTINCT q.query_id, c.vec_id, q.qv, c.v
  FROM corpus c JOIN queries q USING (bucket)
  WHERE c.vec_id <> q.query_id
),
scored AS (
  SELECT query_id, vec_id,
         list_cosine_similarity(qv::DOUBLE[], v::DOUBLE[]) AS cosine
  FROM candidates
)
SELECT query_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


# upgrade the LSH top-k check from rows-only to a full oracle: every
# stage (planes, buckets, probes, verification, ranking) is
# deterministic and engine-portable
ORACLES["similarity_lsh_topk_embeddings"] = _rp_lsh_oracle(
    num_planes=8, dim=64, k=5, modulus=50
)


# ---------------------------------------------------------------------------
# as-of join — every event aligned to the most recent reference event of
# the same user, validated against DuckDB's native ASOF JOIN
# ---------------------------------------------------------------------------

from .operators.asof import asof_join  # noqa: E402

_ASOF_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events
), ref AS (
  SELECT user_id, t, value AS ref_value FROM base WHERE event_id % 10 = 0
)
SELECT b.user_id, b.t, b.event_id, b.value,
       r.t AS ref_t, r.ref_value
FROM base b
ASOF LEFT JOIN ref r ON b.user_id = r.user_id AND b.t >= r.t
"""


@register("asof_join_events", _ASOF_ORACLE)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    base = events.select(
        "event_id", "user_id", F.expr("ts div 1000").alias("t"), "value"
    )
    ref = base.where(F.col("event_id") % 10 == 0).select(
        "user_id", "t", F.col("value").alias("ref_value")
    )
    return asof_join(base, ref, on="t", by="user_id", right_prefix="ref").select(
        "user_id", "t", "event_id", "value", "ref_t", "ref_ref_value"
    ).withColumnRenamed("ref_ref_value", "ref_value")


# ---------------------------------------------------------------------------
# time-series rollup + range join
# ---------------------------------------------------------------------------

from .operators.timeseries import range_join_bands, time_bucket_rollup  # noqa: E402

_ROLLUP_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, make_timestamp(epoch_us(ts))) AS bucket,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
         AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY bucket, event_type
"""


@register("time_bucket_rollup_events", _ROLLUP_ORACLE)
def q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    with_ts = events.withColumn("t", F.timestamp_micros(F.expr("ts div 1000")))
    return time_bucket_rollup(
        with_ts,
        "t",
        3600,
        {
            "n_events": F.count(F.lit(1)),
            # decimal sum: order-independent, bit-stable across
            # partitionings and engines (values are 2-decimal currency)
            "total_value": F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double"),
            "n_users": F.countDistinct("user_id"),
        },
        group_by=["event_type"],
    )


_RANGE_JOIN_ORACLE = """
WITH bands(band, low, high) AS (
  VALUES ('low', 0.0, 10.0), ('mid', 10.0, 100.0), ('high', 100.0, 1e9)
)
SELECT e.event_id, e.value, b.band,
       CAST(b.low AS DOUBLE) AS low, CAST(b.high AS DOUBLE) AS high
FROM events e LEFT JOIN bands b ON e.value >= b.low AND e.value < b.high
"""


@register("range_join_events_bands", _RANGE_JOIN_ORACLE)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 100.0), ("high", 100.0, 1e9)],
        "band string, low double, high double",
    )
    return range_join_bands(events, bands, "value")


# ---------------------------------------------------------------------------
# deterministic shuffle — reproducible training-data ordering
# ---------------------------------------------------------------------------

_SHUFFLE_ORACLE = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY md5('42_' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
         AS shuffle_rank
FROM documents
"""


@register("deterministic_shuffle_documents", _SHUFFLE_ORACLE)
def q_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    shuffled = _text.deterministic_shuffle(docs, "doc_id", seed=42)
    return with_row_numbers(
        shuffled, row_number_column_name="shuffle_rank",
        order=[F.md5(F.concat_ws("_", F.lit("42"), F.col("doc_id").cast("string"))), F.col("doc_id")],
    )


# ---------------------------------------------------------------------------
# sessionization — gap-based per-user sessions over events
# ---------------------------------------------------------------------------

# events.ts arrives as raw nanosecond longs in Spark and µs-truncated
# TIMESTAMP in DuckDB — both sides work in µs (ts div 1000 / epoch_us)
_SESSION_GAP_US = 3_600_000_000  # 1 hour

_SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), d AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), s AS (
  SELECT user_id, ts_us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM d
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts_us) AS t_first, MAX(ts_us) AS t_last
FROM s GROUP BY user_id, session_id
"""


@register("sessionize_events", _SESSIONIZE_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import session_summary

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("ts_us")
    )
    return session_summary(
        ev, "ts_us", gap=_SESSION_GAP_US, by=["user_id"], tiebreak=["event_id"]
    )


# ---------------------------------------------------------------------------
# deterministic sampling — reproducible stratified sample + frozen splits
# ---------------------------------------------------------------------------

from .operators.sampling import assign_splits_sql as _splits_sql
from .operators.sampling import hash_uniform_sql as _uniform_sql

_STRAT_FRACTIONS = {"en": 0.5, "zh": 0.2, "de": 0.35}
_STRAT_DEFAULT = 0.05
_STRAT_SEED = 7

_STRAT_CASE = "CASE " + " ".join(
    f"WHEN lang = '{v}' THEN {f!r}" for v, f in _STRAT_FRACTIONS.items()
) + f" ELSE {_STRAT_DEFAULT!r} END"

_STRAT_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_uniform_sql('doc_id', _STRAT_SEED)} < {_STRAT_CASE}
"""


@register("stratified_sample_documents", _STRAT_SAMPLE_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return stratified_sample(
        docs, "lang", _STRAT_FRACTIONS, "doc_id",
        seed=_STRAT_SEED, default=_STRAT_DEFAULT,
    )


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = 11

_SPLIT_ASSIGN_ORACLE = f"""
SELECT doc_id, {_splits_sql('doc_id', _SPLIT_WEIGHTS, _SPLIT_SEED)} AS split
FROM documents
"""


@register("split_assign_documents", _SPLIT_ASSIGN_ORACLE)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import assign_splits

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return assign_splits(docs, _SPLIT_WEIGHTS, "doc_id", seed=_SPLIT_SEED)


# ---------------------------------------------------------------------------
# sequence packing — concatenate-and-chunk into fixed token blocks
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 512

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM t
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, tokens_before,
       CAST(tokens_before // {_PACK_CAPACITY} AS BIGINT) AS block_first,
       CAST(CASE WHEN n_tok > 0 THEN (tokens_before + n_tok - 1) // {_PACK_CAPACITY}
                 ELSE tokens_before // {_PACK_CAPACITY} END AS BIGINT) AS block_last
FROM c
"""


@register("pack_blocks_documents", _PACK_ORACLE)
def q_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import pack_blocks
    from .operators.text import token_count

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_blocks(
        docs.withColumn("n_tok", token_count("text").cast("long")),
        "n_tok", _PACK_CAPACITY, order=["doc_id"],
    )
    return packed.select(
        "doc_id", "n_tok", "tokens_before", "block_first", "block_last"
    )


# ---------------------------------------------------------------------------
# PII scrubbing — typed redaction with per-category counts
# ---------------------------------------------------------------------------

from .operators.text import scrub_pii_sql as _scrub_sql

# the corpus is synthetic word soup with no PII, so the gate plants
# deterministic contacts derived from doc_id — identically on both sides
_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "' or +1 555 010 ' || CAST(doc_id % 10000 AS VARCHAR)"
)

_SCRUB_EXPRS = _scrub_sql(f"({_PII_TEXT_SQL})")

_SCRUB_PII_ORACLE = f"""
SELECT doc_id,
       CAST({_SCRUB_EXPRS['n_email']} AS INT) AS n_email,
       CAST({_SCRUB_EXPRS['n_ip']} AS INT) AS n_ip,
       CAST({_SCRUB_EXPRS['n_phone']} AS INT) AS n_phone,
       {_SCRUB_EXPRS['text_scrubbed']} AS text_scrubbed
FROM documents
"""


@register("scrub_pii_documents", _SCRUB_PII_ORACLE)
def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import scrub_pii

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(" or +1 555 010 "), (F.col("doc_id") % 10000).cast("string"),
        ),
    )
    cols = scrub_pii("text")
    return planted.select(
        "doc_id",
        cols["n_email"].alias("n_email"),
        cols["n_ip"].alias("n_ip"),
        cols["n_phone"].alias("n_phone"),
        cols["text_scrubbed"].alias("text_scrubbed"),
    )


# ---------------------------------------------------------------------------
# repetition metrics — within-document token repetition (quality rules)
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), tc AS (
  SELECT doc_id, token, COUNT(*) AS cnt
  FROM toks WHERE token <> '' GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS distinct_ratio,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_token_frac
FROM tc GROUP BY doc_id
"""


@register("repetition_metrics_documents", _REPETITION_ORACLE)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import repetition_metrics

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_metrics(docs, "doc_id")


# ---------------------------------------------------------------------------
# bucketed co-located join — shuffle paid at write time, not per query
# ---------------------------------------------------------------------------

_BUCKETED_JOIN_ORACLE = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("bucketed_join_orders_customer", _BUCKETED_JOIN_ORACLE)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .sources.bucketed import colocated_join, write_bucketed  # noqa: F401

    base = tempfile.mkdtemp(prefix="sx_bucketed_gate_")
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        "sx_gate_orders_b", 8, ["o_custkey"], sort_columns=["o_custkey"],
        path=f"{base}/orders",
    )
    write_bucketed(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        "sx_gate_customer_b", 8, ["c_custkey"], sort_columns=["c_custkey"],
        path=f"{base}/customer",
    )
    # bucket columns have different names on the two sides: pass the
    # equi-condition as a Column (still a bucket-key equi-join)
    joined = colocated_join(
        spark, "sx_gate_orders_b", "sx_gate_customer_b",
        on=F.col("o_custkey") == F.col("c_custkey"),
    )
    # sum in DECIMAL so the total is independent of Spark's partial-aggregate
    # order (double addition is not associative; DuckDB folds sequentially)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# connected components — near-dup pairs -> cluster assignments
# ---------------------------------------------------------------------------

# the recursive CTE computes min-reachable-label per node — exactly the
# fixpoint the Spark label-propagation loop converges to
_NEAR_DUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, MIN(label) AS cluster_id
FROM reach GROUP BY id
"""


@register("near_dup_clusters_documents", _NEAR_DUP_CLUSTERS_ORACLE)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _dedup.ngram_jaccard_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, threshold=0.6
    )
    return _dedup.near_dup_clusters(pairs)


# ---------------------------------------------------------------------------
# lexical ranking: TF-IDF weights and BM25 relevance
# ---------------------------------------------------------------------------

# DuckDB tokenization lock-step with operators.text.normalize_text +
# the [a-z0-9]+ extraction used by operators.ranking
_RANK_TOKS_SQL = """
SELECT doc_id,
       unnest(regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+')) AS token
FROM documents
"""

_TFIDF_ORACLE = f"""
WITH toks AS ({_RANK_TOKS_SQL} WHERE doc_id % 10 = 0),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1
  HAVING COUNT(*) >= 2
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks)
SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
       ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS idf,
       tf.tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS tfidf
FROM tf JOIN dfreq USING (token) CROSS JOIN n
"""


@register("tfidf_documents", _TFIDF_ORACLE)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import tfidf

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return tfidf(docs, min_df=2)


_BM25_TERMS = ["vector", "merge", "filter"]

# parenthesization AND final-sum order mirror operators.ranking.
# bm25_score exactly: every *, /, +, - associates identically, and the
# CASE sum below adds terms in the operator's first-occurrence query
# order (vector, merge, filter — bm25_score dedupes via dict.fromkeys,
# preserving caller order).  Residual diffs are 1-2 ulp from the
# engines' ln/pow implementations, inside the driver's hash tolerance;
# everything float-associativity-controllable is controlled.
_BM25_ORACLE = f"""
WITH toks AS ({_RANK_TOKS_SQL}),
matched AS (SELECT * FROM toks WHERE token IN ('vector', 'merge', 'filter')),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM matched GROUP BY 1, 2),
dfreq AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM matched) GROUP BY 1
),
lens AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+')) AS DOUBLE) AS doclen
  FROM documents
),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(doclen) AS avglen FROM lens),
idf AS (
  -- idf snapped to the DECIMAL(18,10) grid lock-step with bm25_score;
  -- the decimal->double cast goes through VARCHAR (DuckDB's direct
  -- cast is last-ulp off, EXACTNESS.md rule 2)
  SELECT token,
         CAST(CAST(CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5)), 10)
              AS DECIMAL(18,10)) AS VARCHAR) AS DOUBLE) AS idf
  FROM dfreq CROSS JOIN stats
),
per_term AS (
  -- k1/b literals cast to DOUBLE: DuckDB types bare 1.2 as DECIMAL,
  -- so tf*(1.2+1.0) would run exact-decimal and round to a DIFFERENT
  -- double than Spark's all-double 6*2.2 (= 13.200000000000001, not
  -- decimal 13.2's nearest double) — the former last-ulp residue of
  -- this gate alongside the unsnapped ln
  SELECT tf.doc_id, tf.token,
         idf.idf * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
           / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
              + 0.75::DOUBLE * lens.doclen / stats.avglen)) AS s
  FROM tf
  JOIN idf USING (token)
  JOIN lens USING (doc_id)
  CROSS JOIN stats
)
SELECT doc_id,
       COALESCE(SUM(CASE WHEN token = 'vector' THEN s END), 0.0)
       + COALESCE(SUM(CASE WHEN token = 'merge' THEN s END), 0.0)
       + COALESCE(SUM(CASE WHEN token = 'filter' THEN s END), 0.0) AS score,
       COUNT(*) AS n_matched
FROM per_term
GROUP BY doc_id
"""


@register("bm25_documents", _BM25_ORACLE)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import bm25_score

    docs = load(spark, sf_dir, "documents")
    return bm25_score(docs, _BM25_TERMS)


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap with an eval set)
# ---------------------------------------------------------------------------

# benchmark = every 37th document's text; corpus = all documents.  The
# benchmark members themselves are guaranteed contaminated; chance
# 5-gram collisions elsewhere are part of the checked result.
_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM documents
),
doc_grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
),
bench_grams AS (
  SELECT DISTINCT shingle FROM doc_grams WHERE doc_id % 37 = 0
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM doc_grams JOIN bench_grams USING (shingle)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       COALESCE(h.n_contaminated, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


@register("decontaminate_documents", _DECONTAM_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.decontam import contamination_flags

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select("text")
    return contamination_flags(docs, bench, n=5)


# ---------------------------------------------------------------------------
# z-order layout: Morton interleave of (user_id, event_id) over events
# ---------------------------------------------------------------------------

_Z_BITS = 8


def _z_interleave_sql(exprs, bits):
    terms = []
    for i, e in enumerate(exprs):
        for b in range(bits):
            terms.append(f"((({e} >> {b}) & 1) << {b * len(exprs) + i})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH stats AS (
  SELECT MIN(user_id) AS mnu, MAX(user_id) AS mxu,
         MIN(event_id) AS mne, MAX(event_id) AS mxe
  FROM events
),
scaled AS (
  SELECT event_id, user_id,
         (user_id - mnu) * {(1 << _Z_BITS) - 1} // GREATEST(mxu - mnu, 1) AS su,
         (event_id - mne) * {(1 << _Z_BITS) - 1} // GREATEST(mxe - mne, 1) AS se
  FROM events CROSS JOIN stats
)
SELECT event_id, user_id, {_z_interleave_sql(['su', 'se'], _Z_BITS)} AS z_value
FROM scaled
"""


@register("zorder_events", _ZORDER_ORACLE)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import with_z_value

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    return with_z_value(ev, ["user_id", "event_id"], bits=_Z_BITS)


# ---------------------------------------------------------------------------
# heavy hitters + corpus-duplicated n-gram fraction
# ---------------------------------------------------------------------------

_HEAVY_HITTERS_ORACLE = """
WITH toks AS (
  SELECT lang,
         unnest(regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+')) AS token
  FROM documents
),
counts AS (SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY 1, 2)
SELECT lang, token, n,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS INT) AS rank
FROM counts
QUALIFY rank <= 5
"""


@register("heavy_hitters_documents", _HEAVY_HITTERS_ORACLE)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import heavy_hitters

    return heavy_hitters(load(spark, sf_dir, "documents"), k=5, by="lang")


_DUP_NGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
per_doc_gram AS (SELECT doc_id, shingle, COUNT(*) AS occ FROM grams GROUP BY 1, 2),
gram_docs AS (SELECT shingle, COUNT(*) AS n_docs FROM per_doc_gram GROUP BY 1)
SELECT doc_id,
       -- DuckDB widens SUM(BIGINT) to HUGEINT (int128); a HUGEINT
       -- output column round-trips differently through pandas/arrow
       -- fetch paths than BIGINT does (float64 materialization) and
       -- was the round-6/7 driver-hash divergence.  Oracle outputs
       -- must be BIGINT/DOUBLE — see scripts/audit_oracle_types.py.
       CAST(SUM(occ) AS BIGINT) AS n_ngrams,
       CAST(SUM(occ * CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(occ * CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(occ) AS DOUBLE) AS dup_frac
FROM per_doc_gram JOIN gram_docs USING (shingle)
GROUP BY doc_id
"""


@register("dup_ngram_fraction_documents", _DUP_NGRAM_ORACLE)
def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import dup_ngram_fraction

    return dup_ngram_fraction(load(spark, sf_dir, "documents"), n=3, min_docs=2)


# ---------------------------------------------------------------------------
# target-mix resampling (data mixing)
# ---------------------------------------------------------------------------

from .operators.sampling import resample_to_mix_sql  # noqa: E402

_MIX_TARGET = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.2}

_RESAMPLE_ORACLE = resample_to_mix_sql(
    "documents", "lang", _MIX_TARGET, "doc_id", columns="d.doc_id, d.lang"
)


@register("resample_mix_documents", _RESAMPLE_ORACLE)
def q_resample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import resample_to_mix

    docs = load(spark, sf_dir, "documents")
    return resample_to_mix(docs, "lang", _MIX_TARGET, "doc_id").select("doc_id", "lang")


# ---------------------------------------------------------------------------
# semantic dedup: coarse cells -> in-cell cosine pairs -> components
# ---------------------------------------------------------------------------

_SEMANTIC_DEDUP_ORACLE = """
WITH RECURSIVE cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
assigned AS (
  SELECT e.vec_id, e.embedding AS v, c.cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC, c.cell) AS rnk
  FROM embeddings e CROSS JOIN cents c
  QUALIFY rnk <= 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b USING (cell)
  WHERE a.vec_id < b.vec_id
    AND list_cosine_similarity(a.v::DOUBLE[], b.v::DOUBLE[]) >= 0.99
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
),
clusters AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
SELECT e.vec_id,
       COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
       COALESCE(c.cluster_id, e.vec_id) = e.vec_id AS keep
FROM embeddings e LEFT JOIN clusters c ON c.id = e.vec_id
"""


@register("semantic_dedup_embeddings", _SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semantic_dedup

    return semantic_dedup(
        load(spark, sf_dir, "embeddings"), threshold=0.99, n_cells=16
    )


# ---------------------------------------------------------------------------
# unigram-LM log-likelihood (CCNet-style corpus-typicality quality score)
# ---------------------------------------------------------------------------

# per-doc sums run in DECIMAL(38,15) on both engines: decimal addition is
# order-independent, so Spark's partial-aggregate order and DuckDB's fold
# produce bit-identical scores (the bucketed_join/BM25 float-sum lesson,
# generalized to unbounded per-doc token sets)
_DOC_LOGPROB_ORACLE = f"""
WITH toks AS ({_RANK_TOKS_SQL}),
counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total,
               CAST(COUNT(*) AS DOUBLE) AS vocab
        FROM counts),
lm AS (
  -- logp round()ed to 10 decimals, mirroring the operator's
  -- libm-ulp absorption before the tf-weighted decimal fold
  SELECT token,
         round(ln((CAST(c AS DOUBLE) + 1.0) / (total + 1.0 * (vocab + 1.0))), 10) AS logp
  FROM counts CROSS JOIN tot
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
per AS (
  -- logp snapped to the DECIMAL(18,10) grid before the integer-exact
  -- tf-weighted fold, mirroring the operator
  SELECT tf.doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         SUM(CAST(logp AS DECIMAL(18,10)) * CAST(tf AS DECIMAL(19,0))) AS s
  FROM tf JOIN lm USING (token) GROUP BY 1
)
-- decimal->double via VARCHAR: bit-matches Spark's correctly-rounded cast
SELECT d.doc_id,
       COALESCE(per.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       CAST(CAST(per.s AS VARCHAR) AS DOUBLE) AS sum_logp,
       CAST(CAST(per.s AS VARCHAR) AS DOUBLE) / CAST(per.n_tokens AS DOUBLE) AS avg_logp
FROM documents d LEFT JOIN per USING (doc_id)
"""


@register("doc_logprob_documents", _DOC_LOGPROB_ORACLE)
def q_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import doc_logprob

    return doc_logprob(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# per-source quota capping (web-scale "no domain dominates" rule)
# ---------------------------------------------------------------------------

from .operators.sampling import cap_per_group_sql as _cap_sql  # noqa: E402

_CAP_PER_SOURCE_ORACLE = _cap_sql(
    "documents", "source", 10, "doc_id", columns="doc_id, source"
)


@register("cap_per_source_documents", _CAP_PER_SOURCE_ORACLE)
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import cap_per_group

    docs = load(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", 10, "doc_id").select("doc_id", "source")


# ---------------------------------------------------------------------------
# quality-rule filtering with reasons (Gopher-style, nothing dropped silently)
# ---------------------------------------------------------------------------

# lock-step with operators.text.quality_metrics / gopher_rules defaults
_QUALITY_RULES_ORACLE = """
WITH m AS (
  SELECT doc_id,
         len(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         len(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         len(regexp_replace(text, '[^ \t\n\r\f\x0b]', '', 'g')) AS spaces
  FROM documents
),
r AS (
  SELECT doc_id,
         CASE WHEN n_chars > 0 THEN CAST(alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_chars > 0 THEN CAST(digits AS DOUBLE) / n_chars ELSE 0.0 END AS digit_ratio,
         CASE WHEN n_tokens > 0 THEN CAST(n_chars - spaces AS DOUBLE) / n_tokens ELSE 0.0 END AS mean_token_len,
         n_tokens
  FROM m
),
v AS (
  SELECT doc_id,
         n_tokens >= 50 AS ok_few,
         n_tokens <= 100000 AS ok_many,
         mean_token_len >= 3.0 AS ok_short,
         mean_token_len <= 10.0 AS ok_long,
         digit_ratio <= 0.2 AS ok_digit,
         alpha_ratio >= 0.6 AS ok_alpha
  FROM r
)
SELECT doc_id,
       (ok_few AND ok_many AND ok_short AND ok_long AND ok_digit AND ok_alpha) AS kept,
       concat_ws(',',
         CASE WHEN NOT ok_few THEN 'too_few_tokens' END,
         CASE WHEN NOT ok_many THEN 'too_many_tokens' END,
         CASE WHEN NOT ok_short THEN 'mean_token_too_short' END,
         CASE WHEN NOT ok_long THEN 'mean_token_too_long' END,
         CASE WHEN NOT ok_digit THEN 'too_many_digits' END,
         CASE WHEN NOT ok_alpha THEN 'not_enough_letters' END
       ) AS failed_rules
FROM v
"""


@register("quality_rules_documents", _QUALITY_RULES_ORACLE)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import apply_quality_rules, gopher_rules

    docs = load(spark, sf_dir, "documents")
    return apply_quality_rules(docs, gopher_rules("text")).select(
        "doc_id", "kept", "failed_rules"
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs already-accepted corpus
# ---------------------------------------------------------------------------

# planted batch: identical copies (cross-corpus exact dups) + suffixed
# copies (near dups) of the accepted corpus
_NEW_BATCH_SQL = """
SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id + 400000 AS doc_id, text || ' zz7 qq9 extra suffix tokens' AS text
FROM documents WHERE doc_id % 7 = 1
"""


def _new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    identical = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    suffixed = docs.where(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz7 qq9 extra suffix tokens")).alias("text"),
    )
    return identical.unionAll(suffixed)


_DEDUP_AGAINST_ORACLE = f"""
WITH newdocs AS ({_NEW_BATCH_SQL})
SELECT doc_id FROM newdocs
WHERE md5({_NORM_SQL}) NOT IN (
  SELECT DISTINCT md5({_NORM_SQL}) FROM documents
)
"""


@register("dedup_against_documents", _DEDUP_AGAINST_ORACLE)
def q_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _dedup.dedup_against(_new_batch(spark, sf_dir), docs).select("doc_id")


def _minhash_sig_cte(corpus_cte: str, prefix: str, num_hashes: int) -> str:
    """Signature CTEs over an arbitrary corpus CTE — the
    `_minhash_oracle` pipeline, parameterized for cross-corpus use."""
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {_dedup.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(_dedup.minhash_params(num_hashes))
    )
    return f"""{prefix}_toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM {corpus_cte}
),
{prefix}_sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM {prefix}_toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
{prefix}_hashed AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(shingle), 1, 8)) AS BIGINT) % 2147483648 AS h
  FROM {prefix}_sh
),
{prefix}_sig AS (
  SELECT doc_id,
         {mins}
  FROM {prefix}_hashed
  GROUP BY doc_id
)"""


def _band_bucket_cte(sig_cte: str, prefix: str, num_hashes: int, bands: int) -> str:
    rows = num_hashes // bands
    buckets = ", ".join(
        "md5(concat_ws('_', "
        + ", ".join([str(b)] + [f"mh_{b * rows + r}" for r in range(rows)])
        + "))"
        for b in range(bands)
    )
    return f"""{prefix}_buckets AS (
  SELECT DISTINCT doc_id, bucket
  FROM (SELECT doc_id, unnest([{buckets}]) AS bucket FROM {sig_cte})
)"""


def _near_dedup_against_oracle(num_hashes: int, bands: int, threshold: float) -> str:
    agree = " + ".join(
        f"CASE WHEN ns.mh_{i} = ss.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
WITH newdocs AS ({_NEW_BATCH_SQL}),
{_minhash_sig_cte('newdocs', 'n', num_hashes)},
{_minhash_sig_cte('documents', 's', num_hashes)},
{_band_bucket_cte('n_sig', 'n', num_hashes, bands)},
{_band_bucket_cte('s_sig', 's', num_hashes, bands)},
cand AS (
  SELECT DISTINCT nb.doc_id AS new_id, sb.doc_id AS seen_id
  FROM n_buckets nb JOIN s_buckets sb USING (bucket)
),
dirty AS (
  SELECT DISTINCT cand.new_id
  FROM cand
  JOIN n_sig ns ON ns.doc_id = cand.new_id
  JOIN s_sig ss ON ss.doc_id = cand.seen_id
  WHERE ({agree}) / {float(num_hashes)!r} >= {float(threshold)!r}
)
SELECT doc_id FROM newdocs
WHERE doc_id NOT IN (SELECT new_id FROM dirty)
"""


@register("near_dedup_against_documents", _near_dedup_against_oracle(8, 4, 0.9))
def q_near_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _dedup.near_dedup_against(
        _new_batch(spark, sf_dir), docs, num_hashes=8, bands=4, threshold=0.9
    ).select("doc_id")


# ---------------------------------------------------------------------------
# token-budget subsetting + corpus mix report
# ---------------------------------------------------------------------------

from .operators.sampling import take_token_budget_sql as _budget_sql  # noqa: E402

_TOKENS_EXPR = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
)

_TOKEN_BUDGET_ORACLE = _budget_sql(
    "documents", 5000, _TOKENS_EXPR, "doc_id", group_expr="lang",
    columns="doc_id, lang",
)


@register("token_budget_documents", _TOKEN_BUDGET_ORACLE)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import take_token_budget
    from .operators.text import token_count

    docs = load(spark, sf_dir, "documents")
    return take_token_budget(
        docs, 5000, token_count("text"), "doc_id", group_col="lang"
    ).select("doc_id", "lang")


_MIX_REPORT_ORACLE = f"""
WITH agg AS (
  SELECT lang AS stratum,
         COUNT(*) AS n_docs,
         CAST(SUM({_TOKENS_EXPR}) AS BIGINT) AS n_tokens,
         CAST(SUM(len(text)) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td, CAST(SUM(n_tokens) AS BIGINT) AS tt FROM agg)
SELECT stratum, n_docs,
       n_docs / td AS doc_share,
       n_tokens,
       n_tokens / tt AS token_share,
       n_chars
FROM agg CROSS JOIN tot
"""


@register("mix_report_documents", _MIX_REPORT_ORACLE)
def q_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import mix_report

    return mix_report(load(spark, sf_dir, "documents"), "lang")


# ---------------------------------------------------------------------------
# document chunking (context-window splitting with overlap)
# ---------------------------------------------------------------------------

_CHUNK_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''
),
chunks AS (
  SELECT doc_id,
         CAST(s / 48 AS INT) AS chunk_id,
         array_to_string(t[s + 1 : s + 64], ' ') AS text,
         CAST(len(t[s + 1 : s + 64]) AS INT) AS n_tokens
  -- upper bound len - overlap - 1 (mirroring the operator): a start
  -- within the final overlap window is fully covered by the previous
  -- chunk; greatest() keeps one chunk for overlap-short documents
  FROM toks, UNNEST(generate_series(0, greatest(0, len(t) - 16 - 1), 48)) AS u(s)
)
SELECT doc_id, chunk_id, text, n_tokens FROM chunks
"""


@register("chunk_documents", _CHUNK_ORACLE)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import chunk_documents

    return chunk_documents(load(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16)


# ---------------------------------------------------------------------------
# merit-ordered per-group selection
# ---------------------------------------------------------------------------

from .operators.sampling import top_per_group_sql as _top_sql  # noqa: E402

_TOP_PER_GROUP_ORACLE = _top_sql(
    "documents", "lang", 20, "n_chars", "doc_id",
    columns="doc_id, lang, n_chars",
)


@register("top_per_group_documents", _TOP_PER_GROUP_ORACLE)
def q_top_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import top_per_group

    docs = load(spark, sf_dir, "documents")
    return top_per_group(docs, "lang", 20, "n_chars", "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


# ---------------------------------------------------------------------------
# random-projection dimensionality reduction
# ---------------------------------------------------------------------------

# the gate emits scalar columns p_0..p_7 (array-typed result cells break
# the driver's pandas canonicalizer, as with parquet_block_columns)
def _project_oracle(out_dim: int, dim: int, seed: int = 42) -> str:
    from .operators.similarity import rp_planes

    planes = rp_planes(out_dim, dim, seed)
    cols = ",\n       ".join(
        "list_sum(list_transform(list_zip(embedding::DOUBLE[], "
        + "ARRAY[" + ", ".join(f"{float(w)!r}" for w in planes[j]) + "]::DOUBLE[]"
        + f"), x -> x[1] * x[2])) * (1.0 / sqrt({float(out_dim)!r})) AS p_{j}"
        for j in range(out_dim)
    )
    return f"""
SELECT vec_id,
       {cols}
FROM embeddings
"""


@register("project_embeddings", _project_oracle(8, 64))
def q_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import project_embeddings

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = project_embeddings(emb, out_dim=8, out_col="__p")
    return proj.select(
        "vec_id", *[F.col("__p")[i].alias(f"p_{i}") for i in range(8)]
    )


# ---------------------------------------------------------------------------
# sketches: KMV / HLL distinct estimation, count-min, Bloom prune
# ---------------------------------------------------------------------------

# shared md5-derived 60-bit hash, replayed verbatim by every sketch oracle
_H64 = "CAST(CONCAT('0x', substr(md5('{salt}' || CAST({col} AS VARCHAR)), 1, 15)) AS BIGINT)"

_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type, {_H64.format(salt='kmv', col='event_id')} AS h
  FROM events
),
ranked AS (
  SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
agg AS (
  SELECT event_type, COUNT(*) AS sz, MAX(CASE WHEN rn = 32 THEN h END) AS kth
  FROM ranked WHERE rn <= 32 GROUP BY 1
)
SELECT event_type,
       ROUND(CASE WHEN sz < 32 THEN CAST(sz AS DOUBLE)
                  ELSE 31.0 / (CAST(kth AS DOUBLE) / 1152921504606846976.0) END,
             4) AS n_distinct_est,
       CAST(sz AS BIGINT) AS n_exact_capped
FROM agg
"""


@register("kmv_distinct_events", _KMV_ORACLE)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import kmv_distinct

    ev = load(spark, sf_dir, "events").select("event_type", "event_id")
    return kmv_distinct(ev, "event_id", by=["event_type"], k=32)


def _hll_oracle(bucket_bits: int) -> str:
    m = 1 << bucket_bits
    width = 60 - bucket_bits
    maxrho = width + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = alpha * m * m
    scale = float(1 << maxrho)
    h = _H64.format(salt="hll", col="event_id")
    return f"""
WITH rho AS (
  SELECT event_type,
         ({h}) % {m} AS b,
         CASE WHEN ({h}) >> {bucket_bits} = 0 THEN {maxrho}
              ELSE {maxrho} - LENGTH(bin(({h}) >> {bucket_bits}))
         END AS r
  FROM events
),
regs AS (SELECT event_type, b, MAX(r) AS reg FROM rho GROUP BY 1, 2),
summed AS (
  SELECT event_type,
         SUM(CAST(1 AS BIGINT) << ({maxrho} - reg)) AS ssum,
         COUNT(*) AS nregs
  FROM regs GROUP BY 1
)
SELECT event_type,
       ROUND({num!r} / ((CAST(ssum AS DOUBLE)
                         + CAST({m} - nregs AS DOUBLE) * {scale!r}) / {scale!r}),
             4) AS n_distinct_est,
       CAST(nregs AS BIGINT) AS n_registers
FROM summed
"""


@register("hll_distinct_events", _hll_oracle(8))
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import hll_distinct

    ev = load(spark, sf_dir, "events").select("event_type", "event_id")
    return hll_distinct(ev, "event_id", by=["event_type"], bucket_bits=8)


_CMS_ORACLE = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+')) AS token
  FROM documents
),
cnt AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY 1),
keys AS (SELECT token FROM cnt ORDER BY n DESC, token LIMIT 10),
ds AS (SELECT unnest(generate_series(0, 3)) AS d),
cells AS (
  SELECT d,
         CAST(CONCAT('0x', substr(md5('cms' || CAST(d AS VARCHAR) || token), 1, 15)) AS BIGINT) % 1024 AS b,
         COUNT(*) AS n
  FROM toks CROSS JOIN ds GROUP BY 1, 2
),
probes AS (
  SELECT token, d,
         CAST(CONCAT('0x', substr(md5('cms' || CAST(d AS VARCHAR) || token), 1, 15)) AS BIGINT) % 1024 AS b
  FROM keys CROSS JOIN ds
)
SELECT p.token, CAST(MIN(COALESCE(c.n, 0)) AS BIGINT) AS est_count
FROM probes p LEFT JOIN cells c USING (d, b)
GROUP BY p.token
"""


@register("cms_counts_documents", _CMS_ORACLE)
def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.sketches import cms_counts
    from .operators.text import normalize_text

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(normalize_text("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__n"))
    w = Window.orderBy(F.col("__n").desc(), F.col("token").asc())
    keys = counts.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= 10).select("token")
    return cms_counts(toks, "token", keys, depth=4, width=1024)


_BLOOM_ORACLE = f"""
WITH pos AS (
  SELECT DISTINCT
         CAST(CONCAT('0x', substr(md5('bloom' || CAST(i AS VARCHAR) || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 AS p
  FROM customer CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i)
  WHERE c_mktsegment = 'BUILDING'
)
SELECT o.* FROM orders o
WHERE CAST(CONCAT('0x', substr(md5('bloom0' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 IN (SELECT p FROM pos)
  AND CAST(CONCAT('0x', substr(md5('bloom1' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 IN (SELECT p FROM pos)
  AND CAST(CONCAT('0x', substr(md5('bloom2' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 65536 IN (SELECT p FROM pos)
"""


@register("bloom_prune_orders", _BLOOM_ORACLE)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import bloom_prune

    orders = load(spark, sf_dir, "orders")
    dim = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return bloom_prune(orders, dim, "o_custkey", "c_custkey", num_bits=1 << 16, num_hashes=3)


# ---------------------------------------------------------------------------
# rolling window features / pivot matrix / winsorization
# ---------------------------------------------------------------------------

_ROLLING_ORACLE = """
SELECT event_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
             RANGE BETWEEN 3599999999999 PRECEDING AND CURRENT ROW)
"""


@register("rolling_events", _ROLLING_ORACLE)
def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import rolling_aggregates

    ev = load(spark, sf_dir, "events")  # ts normalized to epoch nanoseconds
    out = rolling_aggregates(
        ev,
        "ts",
        3_600_000_000_000,  # 1h in the column's unit (ns)
        {
            "n_1h": F.count(F.lit(1)),
            "sum_1h": F.sum(F.col("value").cast("decimal(18,2)")),
        },
        by=["user_id"],
    )
    return out.select("event_id", "n_1h", F.col("sum_1h").cast("double").alias("sum_1h"))


_PIVOT_ORACLE = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY user_id
"""


@register("pivot_events", _PIVOT_ORACLE)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import pivot_counts

    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    return pivot_counts(ev, ["user_id"], "event_type", ["click", "error", "purchase", "signup", "view"])


_WINSORIZE_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type,
         MIN(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.05 * n) AS BIGINT)) THEN value END) AS lo,
         MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.95 * n) AS BIGINT)) THEN value END) AS hi
  FROM ranked GROUP BY 1
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(LEAST(GREATEST(e.value, b.lo), b.hi) AS DECIMAL(18,2))) AS DOUBLE) AS wsum
FROM events e JOIN bounds b USING (event_type)
GROUP BY e.event_type
"""


@register("winsorize_events", _WINSORIZE_ORACLE)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import winsorize

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = winsorize(ev, "value", by=["event_type"], lower=0.05, upper=0.95, tiebreak=["event_id"])
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value_winsorized").cast("decimal(18,2)")).cast("double").alias("wsum"),
    )


# ---------------------------------------------------------------------------
# fuzzy levenshtein dedup + embedding quantization
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


@register("fuzzy_pairs_part", _FUZZY_ORACLE)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.fuzzy import fuzzy_dedup_pairs

    part = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    # the gate corpus has ~64 distinct p_name strings: pin the explode
    # spread to 8 partitions (~8 strings/task, each ~500 variants) the
    # way the ANN gates pin num_planes — the default (session shuffle
    # partitions) is sized for corpus-scale string sets and its fixed
    # fan-out overhead dominates at this shape.  Values are identical
    # for any width; the variant join stays pinned shuffle_hash.
    return fuzzy_dedup_pairs(
        part, "p_partkey", "p_name", max_distance=2, variant_partitions=8
    )


# scalar digest of the quantized vector (array-typed result cells break
# the driver's pandas canonicalizer, as with parquet_block_columns)
_QUANTIZE_ORACLE = """
WITH vals AS (
  SELECT vec_id, embedding[i] AS val, i AS ord
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
dims AS (SELECT ord, MIN(val) AS lo, MAX(val) AS hi FROM vals GROUP BY 1),
codes AS (
  SELECT vec_id, ord,
         CASE WHEN d.hi = d.lo THEN 0
              ELSE CAST(FLOOR((CAST(v.val AS DOUBLE) - CAST(d.lo AS DOUBLE))
                              / (CAST(d.hi AS DOUBLE) - CAST(d.lo AS DOUBLE))
                              * 255.0 + 0.5) AS INT)
         END AS c
  FROM vals v JOIN dims d USING (ord)
)
SELECT vec_id,
       CAST(MAX(CASE WHEN ord = 1 THEN c END) AS INT) AS q_0,
       CAST(MAX(CASE WHEN ord = 2 THEN c END) AS INT) AS q_1,
       CAST(MAX(CASE WHEN ord = 3 THEN c END) AS INT) AS q_2,
       CAST(MAX(CASE WHEN ord = 4 THEN c END) AS INT) AS q_3,
       CAST(SUM(c) AS BIGINT) AS q_sum
FROM codes GROUP BY vec_id
"""


@register("quantize_embeddings", _QUANTIZE_ORACLE)
def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import quantize_embeddings

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = quantize_embeddings(emb, levels=256, out_col="__q")
    return q.select(
        "vec_id",
        *[F.col("__q")[i].alias(f"q_{i}") for i in range(4)],
        F.aggregate("__q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
    )


# ---------------------------------------------------------------------------
# sparse (TF-IDF) cosine document similarity — inverted-index pairs
# ---------------------------------------------------------------------------

# decimal(38,12) pair/norm sums: shared-token counts vary per pair, so a
# fixed-order float sum is impossible — decimal addition is order-free
_SPARSE_COSINE_ORACLE = f"""
WITH toks AS ({_RANK_TOKS_SQL}),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1
  HAVING COUNT(*) >= 2 AND COUNT(*) <= 40
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS w
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
norms AS (
  SELECT doc_id, sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
  FROM w GROUP BY 1
),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         SUM(CAST(a.w * b.w AS DECIMAL(38,12))) AS dot
  FROM w a JOIN w b USING (token)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine_sim
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.8
"""


@register("sparse_cosine_documents", _SPARSE_COSINE_ORACLE)
def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import sparse_cosine_pairs

    docs = load(spark, sf_dir, "documents")
    return sparse_cosine_pairs(docs, min_sim=0.8, min_df=2, max_token_df=40)


# ---------------------------------------------------------------------------
# semi-structured JSON field extraction
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_id, event_type,
       CAST(props::JSON->>'k' AS INTEGER) AS k
FROM events
"""


@register("json_extract_events", _JSON_ORACLE)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.semistructured import extract_json_fields

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "props")
    return extract_json_fields(ev, "props", {"k": "int"}).select("event_id", "event_type", "k")


# ---------------------------------------------------------------------------
# heavy-key skew diagnostic
# ---------------------------------------------------------------------------

_HEAVY_KEYS_ORACLE = """
WITH counts AS (SELECT user_id, event_type, COUNT(*) AS n_rows FROM events GROUP BY 1, 2),
total AS (SELECT COUNT(*) AS t FROM events)
SELECT user_id, event_type, n_rows,
       CAST(n_rows AS DOUBLE) / CAST(t AS DOUBLE) AS share,
       CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id, event_type) AS INT) AS rank
FROM counts CROSS JOIN total
QUALIFY rank <= 15
"""


@register("heavy_keys_events", _HEAVY_KEYS_ORACLE)
def q_heavy_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import heavy_keys

    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    return heavy_keys(ev, ["user_id", "event_type"], k=15)


# ---------------------------------------------------------------------------
# exact per-group quantile vectors
# ---------------------------------------------------------------------------

_QUANTILES_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.25 * n) AS BIGINT)) THEN value END) AS q25,
       MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)) THEN value END) AS q50,
       MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.75 * n) AS BIGINT)) THEN value END) AS q75,
       MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.95 * n) AS BIGINT)) THEN value END) AS q95
FROM ranked
WHERE rn = GREATEST(1, CAST(CEIL(0.25 * n) AS BIGINT))
   OR rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT))
   OR rn = GREATEST(1, CAST(CEIL(0.75 * n) AS BIGINT))
   OR rn = GREATEST(1, CAST(CEIL(0.95 * n) AS BIGINT))
GROUP BY event_type
"""


@register("group_quantiles_events", _QUANTILES_ORACLE)
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import group_quantiles

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return group_quantiles(
        ev, "value", by=["event_type"], quantiles=[0.25, 0.5, 0.75, 0.95], tiebreak=["event_id"]
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout index
# ---------------------------------------------------------------------------

def _hilbert_oracle(bits: int) -> str:
    """Chained one-CTE-per-level replica of the per-level quadrant walk
    in sources.layout.with_hilbert_value (exact integer arithmetic)."""
    scale = (1 << bits) - 1
    n = 1 << bits
    ctes = [
        f"""l{bits} AS (
  SELECT event_id, user_id,
         (user_id - mnu) * {scale} // GREATEST(mxu - mnu, 1) AS x,
         (event_id - mne) * {scale} // GREATEST(mxe - mne, 1) AS y,
         CAST(0 AS BIGINT) AS d
  FROM events CROSS JOIN stats
)"""
    ]
    for level in reversed(range(bits)):
        s = 1 << level
        prev = f"l{level + 1}"
        ctes.append(
            f"""l{level} AS (
  SELECT event_id, user_id,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {n - 1} - y ELSE y END) ELSE x END AS x,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {n - 1} - x ELSE x END) ELSE y END AS y,
         d + {s * s} * CAST(xor(3 * rx, ry) AS BIGINT) AS d
  FROM (
    SELECT event_id, user_id, x, y, d,
           CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
           CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
    FROM {prev}
  )
)"""
        )
    chain = ",\n".join(ctes)
    return f"""
WITH stats AS (
  SELECT MIN(user_id) AS mnu, MAX(user_id) AS mxu,
         MIN(event_id) AS mne, MAX(event_id) AS mxe
  FROM events
),
{chain}
SELECT event_id, user_id, d AS h_value FROM l0
"""


_HILBERT_BITS = 10


@register("hilbert_events", _hilbert_oracle(_HILBERT_BITS))
def q_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import with_hilbert_value

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    return with_hilbert_value(ev, ["user_id", "event_id"], bits=_HILBERT_BITS)


# ---------------------------------------------------------------------------
# KMV overlap / join-cardinality estimation
# ---------------------------------------------------------------------------

_KMV_OVERLAP_ORACLE = """
WITH ha AS (
  SELECT DISTINCT CAST(CONCAT('0x', substr(md5('kmv' || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM orders
),
hb AS (
  SELECT DISTINCT CAST(CONCAT('0x', substr(md5('kmv' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM customer
),
sa AS (SELECT h, rn FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ha) WHERE rn <= 256),
sb AS (SELECT h, rn FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hb) WHERE rn <= 256),
ua AS (
  SELECT COALESCE(sa.h, sb.h) AS h,
         CASE WHEN sa.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN sb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM sa FULL OUTER JOIN sb ON sa.h = sb.h
),
su AS (
  SELECT h, in_a, in_b, rn
  FROM (SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ua)
  WHERE rn <= 256
),
ea AS (
  SELECT CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 255.0 / (CAST(MAX(CASE WHEN rn = 256 THEN h END) AS DOUBLE) / 1152921504606846976.0)
         END AS est FROM sa
),
eb AS (
  SELECT CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 255.0 / (CAST(MAX(CASE WHEN rn = 256 THEN h END) AS DOUBLE) / 1152921504606846976.0)
         END AS est FROM sb
),
eu AS (
  SELECT CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 255.0 / (CAST(MAX(CASE WHEN rn = 256 THEN h END) AS DOUBLE) / 1152921504606846976.0)
         END AS est_union,
         CAST(SUM(in_a * in_b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS jaccard_est
  FROM su
)
SELECT ROUND(ea.est, 4) AS est_distinct_left,
       ROUND(eb.est, 4) AS est_distinct_right,
       ROUND(eu.est_union, 4) AS est_union,
       ROUND(eu.jaccard_est, 6) AS jaccard_est,
       ROUND(eu.jaccard_est * eu.est_union, 4) AS est_intersection,
       CAST(256 AS BIGINT) AS k_used
FROM ea CROSS JOIN eb CROSS JOIN eu
"""


@register("kmv_overlap_orders_customer", _KMV_OVERLAP_ORACLE)
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import kmv_overlap

    orders = load(spark, sf_dir, "orders").select("o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    return kmv_overlap(orders, cust, "o_custkey", "c_custkey", k=256)


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_WEIGHTED_SAMPLE_ORACLE = """
WITH pri AS (
  SELECT doc_id, text, lang, source, n_chars,
         -ln((CAST(CONCAT('0x', substr(md5(CONCAT('42:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 1) / 4294967296.0)
         / CAST(n_chars AS DOUBLE) AS p
  FROM documents
  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p, doc_id) AS rn FROM pri)
SELECT doc_id, text, lang, source, n_chars FROM r WHERE rn <= 10
"""


@register("weighted_sample_documents", _WEIGHTED_SAMPLE_ORACLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents")
    return weighted_sample(docs, 10, "n_chars", "doc_id", by=["lang"])


# ---------------------------------------------------------------------------
# n-gram containment — asymmetric (subset-duplicate) near-dup measure
# ---------------------------------------------------------------------------

_NGRAM_CONTAINMENT_ORACLE = f"""
WITH corpus AS ({_NEAR_DUPS_SQL}),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM corpus
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, common,
       sa.n_shingles AS size_a, sb.n_shingles AS size_b,
       CAST(common AS DOUBLE) / LEAST(sa.n_shingles, sb.n_shingles) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / LEAST(sa.n_shingles, sb.n_shingles) >= 0.9
"""


@register("ngram_containment_documents", _NGRAM_CONTAINMENT_ORACLE)
def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.ngram_containment_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, threshold=0.9
    )


# ---------------------------------------------------------------------------
# paragraph-level corpus dedup (CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------

_PARA_FOOTER = "please subscribe to the example newsletter"

_PARAGRAPH_DEDUP_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text || chr(10) ||
    CASE WHEN doc_id % 3 = 0 THEN '{_PARA_FOOTER}'
         ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents
),
sp AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM corpus),
paras AS (
  SELECT doc_id, i - 1 AS pos, ps[i] AS para
  FROM sp, UNNEST(generate_series(1, len(ps))) AS u(i)
),
keyed AS (
  SELECT doc_id, pos, para,
         CASE WHEN trim(regexp_replace(lower(para), '[^a-z0-9]+', ' ', 'g')) <> ''
              THEN md5(trim(regexp_replace(lower(para), '[^a-z0-9]+', ' ', 'g'))) END AS k
  FROM paras
),
counts AS (SELECT k, COUNT(*) AS c FROM keyed WHERE k IS NOT NULL GROUP BY k),
flagged AS (
  SELECT keyed.*, (k IS NOT NULL AND COALESCE(c, 0) >= 2) AS removed
  FROM keyed LEFT JOIN counts USING (k)
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN NOT removed THEN para END, chr(10) ORDER BY pos), '') AS text,
       CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
       CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM flagged GROUP BY doc_id
"""


@register("paragraph_dedup_documents", _PARAGRAPH_DEDUP_ORACLE)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_PARA_FOOTER)).otherwise(
                F.concat(F.lit("unique tail "), F.col("doc_id").cast("string"))
            ),
        ).alias("text"),
    )
    return _dedup.paragraph_dedup(corpus)


# ---------------------------------------------------------------------------
# interval overlap join — click windows × view windows per user
# ---------------------------------------------------------------------------

_IVJ_W_US = 6 * 3600 * 1_000_000  # each event opens a 6 h window

_INTERVAL_JOIN_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_start,
         epoch_us(ts) + {_IVJ_W_US} AS c_end
  FROM events WHERE event_type = 'click'
),
v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_start,
         epoch_us(ts) + {_IVJ_W_US} AS v_end
  FROM events WHERE event_type = 'view'
)
SELECT c.user_id, click_id, view_id, c_start, c_end, v_start, v_end,
       GREATEST(c_start, v_start) AS overlap_start,
       LEAST(c_end, v_end) AS overlap_end
FROM c JOIN v ON c.user_id = v.user_id
WHERE GREATEST(c_start, v_start) < LEAST(c_end, v_end)
"""


@register("interval_join_events", _INTERVAL_JOIN_ORACLE)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import interval_join

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000").alias("ts_us")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("c_start"),
        (F.col("ts_us") + _IVJ_W_US).alias("c_end"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts_us").alias("v_start"),
        (F.col("ts_us") + _IVJ_W_US).alias("v_end"),
    )
    return interval_join(
        clicks, views, "c_start", "c_end", "v_start", "v_end",
        by=["user_id"], grid=_IVJ_W_US,
    )


# ---------------------------------------------------------------------------
# one-pass table profiling
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       (SELECT COUNT(*) FROM orders) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM orders"""
    for c in _PROFILE_COLS
)


@register("profile_orders", _PROFILE_ORACLE)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import profile

    return profile(load(spark, sf_dir, "orders"), _PROFILE_COLS, exact=True)


# ---------------------------------------------------------------------------
# fixed-grid approximate quantiles (scan-scale quantile sketch)
# ---------------------------------------------------------------------------

_AGQ_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
),
rg AS (SELECT event_type, MIN(v) AS lo, MAX(v) AS hi FROM v GROUP BY event_type),
cells AS (
  SELECT v.event_type, rg.lo, rg.hi,
         CAST(LEAST(999, CASE WHEN rg.hi = rg.lo THEN 0
                              ELSE FLOOR((v.v - rg.lo) / ((rg.hi - rg.lo) / 1000.0))
                         END) AS BIGINT) AS cell
  FROM v JOIN rg USING (event_type)
),
counts AS (
  SELECT event_type, lo, hi, cell, COUNT(*) AS c
  FROM cells GROUP BY event_type, lo, hi, cell
),
cum AS (
  SELECT event_type, lo, hi, cell,
         SUM(c) OVER (PARTITION BY event_type ORDER BY cell) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM counts
),
probs AS (SELECT CAST(p AS DOUBLE) AS p FROM (VALUES (0.25), (0.5), (0.9)) t(p)),
sel AS (
  SELECT event_type, p, n,
         MIN(CASE WHEN cum >= CEIL(p * n)
                  THEN lo + CAST(cell AS DOUBLE) * ((hi - lo) / 1000.0) END) AS q_estimate
  FROM cum CROSS JOIN probs
  GROUP BY event_type, p, n
)
SELECT event_type, p, q_estimate, CAST(n AS BIGINT) AS n FROM sel
"""


@register("approx_quantiles_events", _AGQ_ORACLE)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import approx_group_quantiles

    ev = load(spark, sf_dir, "events")
    return approx_group_quantiles(
        ev, "value", by=["event_type"], quantiles=(0.25, 0.5, 0.9), bins=1000
    )


# ---------------------------------------------------------------------------
# near-dedup keeping the best (longest) copy per cluster
# ---------------------------------------------------------------------------

_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
),
cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id),
lab AS (
  SELECT c.doc_id, c.text, length(c.text) AS quality,
         COALESCE(cl.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN cl USING (doc_id)
),
ranked AS (
  SELECT *, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id ASC) AS rn
  FROM lab
)
SELECT cluster_id, doc_id, text, CAST(quality AS BIGINT) AS quality,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1
"""


@register("dedup_keep_best_documents", _KEEP_BEST_ORACLE)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_near_dups(spark, sf_dir).withColumn(
        "quality", F.length("text").cast("long")
    )
    return _dedup.dedup_keep_best(corpus, "quality", n=3, threshold=0.6)


# ---------------------------------------------------------------------------
# per-group embedding centroids + cohesion diagnostics
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
WITH comp AS (
  SELECT label, vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
),
sums AS (
  -- round() before the decimal cast: float32-origin components can be
  -- exact scale-12 ties (x = odd/2^13, e.g. 0.1983642578125), where
  -- DuckDB's CAST rounds half-even but Spark rounds HALF_UP; DuckDB
  -- round() is half-away-from-zero, matching Spark.
  SELECT label, dim, SUM(CAST(round(x, 12) AS DECIMAL(38,12))) AS s,
         COUNT(*) AS n
  FROM comp GROUP BY 1, 2
),
-- decimal->double via VARCHAR throughout: bit-matches Spark's
-- correctly-rounded cast; the ulp-off direct cast shifted m, flipping
-- CAST(x*m AS DECIMAL) rounding at quantization boundaries (~1e-9 on
-- the cosine fields)
cent AS (SELECT label, dim,
                CAST(CAST(s AS VARCHAR) AS DOUBLE) / n AS m, n FROM sums),
carr AS (
  SELECT label, list(m ORDER BY dim) AS centroid, MAX(n) AS n,
         sqrt(CAST(CAST(SUM(CAST(m * m AS DECIMAL(38,12))) AS VARCHAR)
              AS DOUBLE)) AS centroid_norm
  FROM cent GROUP BY label
),
dots AS (
  SELECT c.label, c.vec_id,
         SUM(CAST(c.x * carr.centroid[c.dim + 1] AS DECIMAL(38,12))) AS dot,
         SUM(CAST(c.x * c.x AS DECIMAL(38,12))) AS vv
  FROM comp c JOIN carr USING (label)
  GROUP BY 1, 2
),
cos AS (
  SELECT d.label,
         CASE WHEN sqrt(CAST(CAST(vv AS VARCHAR) AS DOUBLE))
                   * carr.centroid_norm > 0
              THEN CAST(CAST(dot AS VARCHAR) AS DOUBLE)
                   / (sqrt(CAST(CAST(vv AS VARCHAR) AS DOUBLE))
                      * carr.centroid_norm)
         END AS cs
  FROM dots d JOIN carr USING (label)
),
agg AS (
  SELECT label,
         CASE WHEN COUNT(cs) > 0
              THEN CAST(CAST(SUM(CAST(cs AS DECIMAL(38,12))) AS VARCHAR)
                   AS DOUBLE) / COUNT(cs)
         END AS avg_cosine,
         MIN(cs) AS min_cosine
  FROM cos GROUP BY label
)
-- the gate unrolls the centroid array to one row per (label, dim):
-- the driver's canonicalizer sorts pandas values and list cells are
-- unhashable; every component is still value-verified
SELECT a.label, CAST(c.n AS BIGINT) AS n,
       u.i - 1 AS dim, c.centroid[u.i] AS component,
       c.centroid_norm, a.avg_cosine, a.min_cosine
FROM agg a
JOIN carr c USING (label),
UNNEST(generate_series(1, len(c.centroid))) AS u(i)
"""


@register("group_centroids_embeddings", _CENTROID_ORACLE)
def q_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import group_centroids

    emb = load(spark, sf_dir, "embeddings")
    cent = group_centroids(emb, "embedding", by=["label"])
    return cent.select(
        "label",
        "n",
        F.posexplode("centroid").alias("dim", "component"),
        "centroid_norm",
        "avg_cosine",
        "min_cosine",
    )


# ---------------------------------------------------------------------------
# multimodal resize + video frame sampling (stub codecs, real plumbing)
# ---------------------------------------------------------------------------

_MM_RESIZE_ORACLE = """
WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 200 + 1 AS INT) AS w,
         CAST(doc_id % 120 + 1 AS INT) AS h,
         octet_length(encode(text)) AS plen
  FROM documents
),
s AS (
  SELECT doc_id, w, h, plen,
         LEAST(64.0 / w, 64.0 / h, 1.0) AS scale
  FROM img
),
r AS (
  SELECT doc_id, w, h, plen,
         GREATEST(1, CAST(trunc(w * scale) AS INT)) AS ow,
         GREATEST(1, CAST(trunc(h * scale) AS INT)) AS oh
  FROM s
)
SELECT doc_id, w AS width, h AS height, ow AS out_width, oh AS out_height,
       CAST(CASE WHEN plen = 0 THEN 0
                 ELSE GREATEST(1, (plen * ow * oh) // (w * h)) END
            + octet_length(encode('IMG1|' || ow || '|' || oh || '|')) AS BIGINT)
         AS out_bytes
FROM r
"""


@register("multimodal_resize_documents", _MM_RESIZE_ORACLE)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id",
        _mm.make_fake_image_blob(
            F.col("text"), F.col("doc_id") % 200 + 1, F.col("doc_id") % 120 + 1
        ).alias("blob"),
    )
    return _mm.resize_images(blobs, 64, 64).select(
        "doc_id", "width", "height", "out_width", "out_height",
        F.length("blob").cast("long").alias("out_bytes"),
    )


_MM_FRAMES_ORACLE = """
WITH v AS (
  SELECT doc_id, CAST(doc_id % 40 AS INT) AS n,
         octet_length(encode(text)) AS plen
  FROM documents
)
SELECT doc_id, n AS n_frames, CAST(i AS INT) AS frame_index,
       CAST(GREATEST(0, LEAST(8, plen - i * 8)) AS INT) AS frame_size
FROM v, UNNEST(generate_series(0, LEAST(n - 1, 21), 7)) AS u(i)
WHERE n > 0
"""


@register("multimodal_frames_documents", _MM_FRAMES_ORACLE)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id",
        _mm.make_fake_video_blob(
            F.col("text"), F.col("doc_id") % 40, F.lit(8)
        ).alias("blob"),
    )
    return _mm.sample_frames(blobs, every=7, max_frames=4).select(
        "doc_id", "n_frames", "frame_index", "frame_size"
    )


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV rate (vocab = corpus top-50 tokens)
# ---------------------------------------------------------------------------

_VOCAB_COVERAGE_ORACLE = f"""
WITH toks AS ({_RANK_TOKS_SQL}),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS c FROM toks GROUP BY 1
    ORDER BY c DESC, token ASC LIMIT 50
  )
),
per AS (
  SELECT t.doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS n_in_vocab
  FROM toks t LEFT JOIN vocab v ON t.token = v.token
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
       CASE WHEN COALESCE(n_tokens, 0) > 0
            THEN CAST(n_in_vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            ELSE 0.0 END AS coverage
FROM documents d LEFT JOIN per USING (doc_id)
"""


@register("vocab_coverage_documents", _VOCAB_COVERAGE_ORACLE)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                _text.normalize_text("text"), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(50)
        .select("token")
    )
    return _text.vocab_coverage(docs, vocab)


# ---------------------------------------------------------------------------
# DSIR-style importance weighting + Gumbel-top-k selection
# ---------------------------------------------------------------------------

from .operators.importance import (  # noqa: E402
    hashed_grams_sql as _hashed_grams_sql,
    importance_model_sql as _importance_model_sql,
)

_DSIR_B, _DSIR_N, _DSIR_SEED, _DSIR_K = 512, 2, 7, 1.0

_DSIR_WEIGHTS_BODY = f"""{_importance_model_sql("lang = 'en'", _DSIR_N, _DSIR_B, _DSIR_SEED, _DSIR_K)},
counts AS (
  SELECT id AS doc_id, bucket, COUNT(*) AS cnt
  FROM ({_hashed_grams_sql("documents", "doc_id", "text", _DSIR_N, _DSIR_B, _DSIR_SEED)}) g
  GROUP BY 1, 2
),
per AS (
  SELECT doc_id, SUM(cnt) AS n_grams,
         SUM(CAST(CAST(cnt AS DOUBLE) * logratio AS DECIMAL(38,15))) AS s
  FROM counts JOIN model USING (bucket) GROUP BY 1
),
wts AS (
  SELECT d.doc_id,
         CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
         COALESCE(CAST(CAST(per.s AS VARCHAR) AS DOUBLE), 0.0) AS logw
  FROM documents d LEFT JOIN per USING (doc_id)
)"""

_DSIR_WEIGHTS_ORACLE = f"WITH {_DSIR_WEIGHTS_BODY}\nSELECT doc_id, n_grams, logw FROM wts"


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.importance import importance_model, importance_weights

    docs = load(spark, sf_dir, "documents")
    model = importance_model(
        docs.filter(F.col("lang") == "en"), docs,
        n_max=_DSIR_N, buckets=_DSIR_B, seed=_DSIR_SEED, k=_DSIR_K,
    )
    return importance_weights(
        docs, model, n_max=_DSIR_N, buckets=_DSIR_B, seed=_DSIR_SEED
    )


@register("dsir_weights_documents", _DSIR_WEIGHTS_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dsir_weights(spark, sf_dir)


# Gumbel-top-k in lock-step with select_by_importance(seed=123, tau=1):
# key = logw - ln(-ln(greatest(u, 2^-33)))
from .operators.sampling import hash_uniform_sql as _hash_uniform_sql  # noqa: E402

_DSIR_SELECT_ORACLE = f"""WITH {_DSIR_WEIGHTS_BODY},
keyed AS (
  SELECT doc_id, n_grams, logw,
         round(logw - ln(-ln(greatest({_hash_uniform_sql("doc_id", 123)}, {2.0 ** -33!r}))), 9) AS gumbel_key
  FROM wts
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id ASC) AS rn
  FROM keyed
)
SELECT doc_id, n_grams, logw, gumbel_key FROM ranked WHERE rn <= 100
"""


@register("dsir_select_documents", _DSIR_SELECT_ORACLE)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.importance import select_by_importance

    return select_by_importance(_dsir_weights(spark, sf_dir), 100, seed=123)


# ---------------------------------------------------------------------------
# leakage-safe splits — near-dup clusters share one split assignment
# ---------------------------------------------------------------------------

from .operators.sampling import assign_splits_sql as _assign_splits_sql  # noqa: E402

_CLUSTER_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}

_CLUSTER_SPLITS_ORACLE = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id
),
clusters AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
labeled AS (
  SELECT c.doc_id, COALESCE(cl.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN clusters cl ON cl.id = c.doc_id
)
SELECT doc_id, cluster_id,
       {_assign_splits_sql("cluster_id", _CLUSTER_SPLIT_WEIGHTS, 42)} AS split
FROM labeled
"""


@register("cluster_splits_documents", _CLUSTER_SPLITS_ORACLE)
def q_cluster_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import leakage_safe_splits

    docs = _docs_with_near_dups(spark, sf_dir)
    return leakage_safe_splits(
        docs, _CLUSTER_SPLIT_WEIGHTS, n=3, threshold=0.6, seed=42
    ).select("doc_id", "cluster_id", "split")


# ---------------------------------------------------------------------------
# length-bucketed batching + padding audit
# ---------------------------------------------------------------------------

_LENGTH_BATCHES_ORACLE = """
WITH numbered AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
),
assigned AS (
  SELECT doc_id, n_chars,
         CAST(floor((rn - 1) / 64) AS BIGINT) AS batch_id
  FROM numbered
)
SELECT batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       MAX(n_chars) AS max_len,
       CAST(SUM(n_chars) AS BIGINT) AS sum_len,
       CAST(MAX(n_chars) * COUNT(*) - SUM(n_chars) AS BIGINT) AS padded_tokens,
       CAST(MAX(n_chars) * COUNT(*) - SUM(n_chars) AS DOUBLE)
         / CAST(MAX(n_chars) * COUNT(*) AS DOUBLE) AS pad_frac
FROM assigned GROUP BY batch_id
"""


@register("length_batches_documents", _LENGTH_BATCHES_ORACLE)
def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import length_batches, padding_report

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assigned = length_batches(docs, "n_chars", 64, id_col="doc_id")
    return padding_report(assigned, "n_chars")


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS) — substring-level copy detection sketch
# ---------------------------------------------------------------------------

_WINNOW_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         (CAST(CONCAT('0x', substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8)) AS BIGINT)
           % 2147483648) AS h
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
keyed AS (
  SELECT doc_id, pos, h * 2147483648 + (2147483647 - pos) AS key FROM grams
),
win AS (
  SELECT doc_id, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m,
         MAX(pos) OVER (PARTITION BY doc_id) AS maxp
  FROM keyed
)
SELECT DISTINCT doc_id,
       2147483647 - (m % 2147483648) AS pos,
       m // 2147483648 AS hash
FROM win
WHERE pos >= 3 OR pos = maxp
"""


@register("winnow_fingerprints_documents", _WINNOW_ORACLE)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import winnow_fingerprints

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_fingerprints(docs, k=3, window=4)


# ---------------------------------------------------------------------------
# stride-scheduled source interleaving (deterministic data-mix ordering)
# ---------------------------------------------------------------------------

from .operators.sampling import interleave_by_mix_sql as _interleave_sql  # noqa: E402

# heavier share for the even-numbered sources: exercises unequal strides
_INTERLEAVE_WEIGHTS = {
    f"src{i}": (3.0 if i % 2 == 0 else 1.0) for i in range(20)
}

_INTERLEAVE_ORACLE = (
    "SELECT doc_id, source, src_rank, interleave_key FROM ("
    + _interleave_sql("documents", "source", _INTERLEAVE_WEIGHTS, "doc_id", seed=42)
    + ") q"
)


@register("interleave_mix_documents", _INTERLEAVE_ORACLE)
def q_interleave_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import interleave_by_mix

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return interleave_by_mix(docs, "source", _INTERLEAVE_WEIGHTS, "doc_id", seed=42)


# ---------------------------------------------------------------------------
# fractional-epoch upsampling (mixture training realization)
# ---------------------------------------------------------------------------

_UPSAMPLE_RATES = {"src0": 2.5, "src1": 1.0, "src2": 0.5}

_REPEAT_UPSAMPLE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         CASE WHEN source = 'src0' THEN 2.5
              WHEN source = 'src1' THEN 1.0
              WHEN source = 'src2' THEN 0.5
              ELSE NULL END AS r,
         {_hash_uniform_sql("doc_id", 42)} AS u
  FROM documents
),
n AS (
  SELECT doc_id, source,
         CAST(floor(r) AS BIGINT)
           + (CASE WHEN u < r - floor(r) THEN 1 ELSE 0 END) AS n
  FROM base WHERE r IS NOT NULL
)
SELECT doc_id, source, i - 1 AS epoch
FROM n, UNNEST(generate_series(1, n)) AS t(i)
"""


@register("repeat_upsample_documents", _REPEAT_UPSAMPLE_ORACLE)
def q_repeat_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import repeat_upsample

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return repeat_upsample(docs, _UPSAMPLE_RATES, "doc_id", strata_col="source").select(
        "doc_id", "source", "epoch"
    )


# ---------------------------------------------------------------------------
# declarative constraint checking (single-pass expectations)
# ---------------------------------------------------------------------------

_CONSTRAINTS_ORACLE = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v0,
         CAST(SUM(CASE WHEN NOT COALESCE(o_custkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         CAST(SUM(CASE WHEN NOT COALESCE(length(o_orderpriority) > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice < 200000, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4
  FROM orders
)
SELECT 'totalprice_positive' AS rule, n AS n_rows, v0 AS n_violations, CAST(v0 AS DOUBLE)/CAST(n AS DOUBLE) AS violation_frac FROM agg
UNION ALL SELECT 'custkey_not_null', n, v1, CAST(v1 AS DOUBLE)/CAST(n AS DOUBLE) FROM agg
UNION ALL SELECT 'status_known', n, v2, CAST(v2 AS DOUBLE)/CAST(n AS DOUBLE) FROM agg
UNION ALL SELECT 'priority_nonempty', n, v3, CAST(v3 AS DOUBLE)/CAST(n AS DOUBLE) FROM agg
UNION ALL SELECT 'totalprice_under_200k', n, v4, CAST(v4 AS DOUBLE)/CAST(n AS DOUBLE) FROM agg
"""


@register("check_constraints_orders", _CONSTRAINTS_ORACLE)
def q_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import check_constraints

    orders = load(spark, sf_dir, "orders")
    return check_constraints(
        orders,
        {
            "totalprice_positive": F.col("o_totalprice") > 0,
            "custkey_not_null": F.col("o_custkey").isNotNull(),
            "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
            "priority_nonempty": F.length("o_orderpriority") > 0,
            "totalprice_under_200k": F.col("o_totalprice") < 200000,
        },
    )


# ---------------------------------------------------------------------------
# PSI drift report between two event populations
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH ca AS (
  -- isnan mirrors the operator: NaN joins NULL in the underflow bin
  SELECT (CASE WHEN value IS NULL OR isnan(CAST(value AS DOUBLE)) OR CAST(floor((CAST(value AS DOUBLE) - 0.0) / 40.0) AS BIGINT) < 0 THEN -1
               WHEN CAST(floor((CAST(value AS DOUBLE) - 0.0) / 40.0) AS BIGINT) >= 10 THEN 10
               ELSE CAST(floor((CAST(value AS DOUBLE) - 0.0) / 40.0) AS BIGINT) END) + 1 AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_a
  FROM events WHERE event_type = 'click' GROUP BY 1
),
cb AS (
  -- isnan mirrors the operator: NaN joins NULL in the underflow bin
  SELECT (CASE WHEN value IS NULL OR isnan(CAST(value AS DOUBLE)) OR CAST(floor((CAST(value AS DOUBLE) - 0.0) / 40.0) AS BIGINT) < 0 THEN -1
               WHEN CAST(floor((CAST(value AS DOUBLE) - 0.0) / 40.0) AS BIGINT) >= 10 THEN 10
               ELSE CAST(floor((CAST(value AS DOUBLE) - 0.0) / 40.0) AS BIGINT) END) + 1 AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_b
  FROM events WHERE event_type = 'view' GROUP BY 1
),
dense AS (
  SELECT r.range AS bin, COALESCE(ca.n_a, 0) AS n_a, COALESCE(cb.n_b, 0) AS n_b
  FROM range(0, 12) r
  LEFT JOIN ca ON ca.bin = r.range
  LEFT JOIN cb ON cb.bin = r.range
),
tot AS (SELECT CAST(SUM(n_a) AS DOUBLE) AS ta, CAST(SUM(n_b) AS DOUBLE) AS tb FROM dense)
SELECT bin, n_a, n_b,
       (n_a + 0.5) / (ta + 6.0) AS p_a,
       (n_b + 0.5) / (tb + 6.0) AS p_b,
       ((n_a + 0.5) / (ta + 6.0) - (n_b + 0.5) / (tb + 6.0))
         * (round(ln((n_a + 0.5) / (ta + 6.0)), 10)
            - round(ln((n_b + 0.5) / (tb + 6.0)), 10)) AS psi_term
FROM dense CROSS JOIN tot
"""


@register("psi_report_events", _PSI_ORACLE)
def q_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import psi_report

    ev = load(spark, sf_dir, "events")
    return psi_report(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
        "value",
        lo=0.0,
        hi=400.0,
        bins=10,
    )


# ---------------------------------------------------------------------------
# winnowing overlap pairs (substring-copy candidates)
# ---------------------------------------------------------------------------

_WINNOW_NEAR_DUPS = f"""
toks AS (
  SELECT doc_id,
         regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+') AS t
  FROM corpus
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         (CAST(CONCAT('0x', substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8)) AS BIGINT)
           % 2147483648) AS h
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
keyed AS (
  SELECT doc_id, pos, h * 2147483648 + (2147483647 - pos) AS key FROM grams
),
win AS (
  SELECT doc_id, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m,
         MAX(pos) OVER (PARTITION BY doc_id) AS maxp
  FROM keyed
),
fp AS (
  SELECT DISTINCT doc_id, m // 2147483648 AS hash
  FROM win WHERE pos >= 3 OR pos = maxp
),
freq AS (
  SELECT hash FROM (
    SELECT hash, COUNT(*) AS f FROM fp GROUP BY hash
  ) WHERE f <= 1000
),
kept AS (SELECT fp.doc_id, fp.hash FROM fp JOIN freq USING (hash)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM kept GROUP BY 1),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM kept a JOIN kept b USING (hash)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT id_a, id_b, shared, sa.sz AS size_a, sb.sz AS size_b,
       CAST(shared AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE) AS overlap
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
"""

_WINNOW_OVERLAP_ORACLE = f"""
WITH corpus AS ({_NEAR_DUPS_SQL}),
{_WINNOW_NEAR_DUPS}
"""


@register("winnow_overlap_documents", _WINNOW_OVERLAP_ORACLE)
def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import winnow_fingerprints, winnow_overlap_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    fp = winnow_fingerprints(docs, k=3, window=4)
    return winnow_overlap_pairs(fp, min_shared=2)


# ---------------------------------------------------------------------------
# Zipf power-law fit (corpus-level quality alarm)
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = f"""
WITH toks AS ({_RANK_TOKS_SQL}),
counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY 1),
ranked AS (
  -- ln snapped to the DECIMAL(12,10) grid, mirroring the operator:
  -- the OLS sums below are then exact integer arithmetic
  SELECT CAST(round(ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS DOUBLE)), 10) AS DECIMAL(12,10)) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)), 10) AS DECIMAL(12,10)) AS y,
         c
  FROM counts
),
agg AS (
  -- decimal->double via VARCHAR: bit-matches Spark's correctly-rounded cast
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
  FROM ranked
)
SELECT n_types, n_tokens,
       -((sxy - sx * sy / CAST(n_types AS DOUBLE))
          / (sxx - sx * sx / CAST(n_types AS DOUBLE))) AS alpha,
       ((sxy - sx * sy / CAST(n_types AS DOUBLE)) * (sxy - sx * sy / CAST(n_types AS DOUBLE)))
         / ((sxx - sx * sx / CAST(n_types AS DOUBLE)) * (syy - sy * sy / CAST(n_types AS DOUBLE))) AS r2
FROM agg
"""


@register("zipf_report_documents", _ZIPF_ORACLE)
def q_zipf_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import zipf_report

    return zipf_report(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# cross-source exact-duplicate matrix
# ---------------------------------------------------------------------------

# plant cross-source duplicates: same doctored corpus trick as the
# near-dup gates, but copies land in a different source
_DUP_SOURCES_SQL = """
SELECT doc_id, source, text FROM documents
UNION ALL
SELECT doc_id + 300000 AS doc_id, 'mirror' AS source, text
FROM documents WHERE doc_id % 5 = 0
"""

_DUP_SOURCE_MATRIX_ORACLE = f"""
WITH corpus AS ({_DUP_SOURCES_SQL}),
hs AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h, source
  FROM corpus
)
SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM hs a JOIN hs b ON a.h = b.h
WHERE a.source < b.source
GROUP BY 1, 2
"""


@register("dup_source_matrix_documents", _DUP_SOURCE_MATRIX_ORACLE)
def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import duplicate_source_matrix

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mirrored = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.lit("mirror").alias("source"),
        "text",
    )
    return duplicate_source_matrix(docs.unionAll(mirrored))


# ---------------------------------------------------------------------------
# embedding column health report
# ---------------------------------------------------------------------------

_EMBEDDING_STATS_ORACLE = """
WITH comp AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
per AS (
  SELECT vec_id,
         CAST(COUNT(*) AS BIGINT) AS d,
         -- round() first: x*x of a float32 x = odd/2^8 is an exact
         -- scale-15 tie; DuckDB CAST is half-even, Spark is HALF_UP,
         -- DuckDB round() is half-away (matches Spark)
         CAST(CAST(SUM(CAST(round(x * x, 15) AS DECIMAL(38,15)))
              AS VARCHAR) AS DOUBLE) AS ss,
         MAX(CASE WHEN isnan(x) OR abs(x) = CAST('infinity' AS DOUBLE) THEN 1 ELSE 0 END) AS bad,
         MAX(CASE WHEN NOT (isnan(x) OR abs(x) = CAST('infinity' AS DOUBLE))
                   AND abs(x) >= 1e11 THEN 1 ELSE 0 END) AS huge
  FROM comp GROUP BY 1
),
base AS (
  SELECT vec_id, CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_nul
  FROM embeddings
),
j AS (SELECT base.vec_id, base.is_nul, per.d, per.ss, per.bad, per.huge
      FROM base LEFT JOIN per USING (vec_id))
SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(is_nul) AS BIGINT) AS n_null,
       MIN(d) AS n_dims_min,
       MAX(d) AS n_dims_max,
       CAST(SUM(CASE WHEN ss = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(SUM(COALESCE(bad, 0)) AS BIGINT) AS n_nonfinite,
       CAST(SUM(CASE WHEN COALESCE(bad, 0) = 0 AND COALESCE(huge, 0) = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
       CAST(CAST(SUM(CAST(round(sqrt(ss), 15) AS DECIMAL(38,15))) AS VARCHAR) AS DOUBLE)
         / CAST(SUM(CASE WHEN ss IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS mean_norm,
       MIN(sqrt(ss)) AS min_norm,
       MAX(sqrt(ss)) AS max_norm
FROM j
"""


@register("embedding_stats_embeddings", _EMBEDDING_STATS_ORACLE)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import embedding_stats

    return embedding_stats(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# PageRank (host-authority scoring) — fixed-iteration power method
# ---------------------------------------------------------------------------

from .operators.graph import pagerank_sql as _pagerank_sql  # noqa: E402

_PR_EDGES_SQL = """SELECT o_custkey AS src, o_orderkey + 1000000 AS dst FROM orders
UNION ALL SELECT o_orderkey + 1000000 AS src, o_custkey AS dst FROM orders"""

_PAGERANK_ORACLE = _pagerank_sql(_PR_EDGES_SQL, iterations=3)


@register("pagerank_orders", _PAGERANK_ORACLE)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import pagerank

    orders = load(spark, sf_dir, "orders")
    fwd = orders.select(
        F.col("o_custkey").alias("src"), (F.col("o_orderkey") + 1000000).alias("dst")
    )
    edges = fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank(edges, iterations=3)


# ---------------------------------------------------------------------------
# stats-based file pruning — results must equal the unpruned filtered read
# ---------------------------------------------------------------------------

_PRUNE_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice >= 50000.0 AND o_totalprice <= 150000.0
"""


@register("prune_files_orders", _PRUNE_ORACLE)
def q_prune_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import tempfile

    from .sources.skipping import prune_files, read_pruned

    # lay orders out range-clustered by totalprice into multiple files —
    # the layout that makes stats-pruning effective (cf. sources/layout.py)
    base = tempfile.mkdtemp(prefix="sx_prune_gate_")
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, "o_totalprice")
        .write.mode("overwrite")
        .parquet(base)
    )
    files = sorted(glob.glob(f"{base}/*.parquet"))
    kept, skipped = prune_files(
        spark, *files, column="o_totalprice", lo=50000.0, hi=150000.0
    )
    # the pruning must actually skip something on a range-clustered
    # layout AND the result must equal the full filtered read (oracle)
    assert skipped, "range-clustered layout should allow file skipping"
    return read_pruned(
        spark, *files, column="o_totalprice", lo=50000.0, hi=150000.0
    )


# ---------------------------------------------------------------------------
# SCD2 snapshot merge — versioned dimension maintenance
# ---------------------------------------------------------------------------

# current = orders as version 0 (valid_from=0, open); updates = every
# 3rd order re-priced +10% and one brand-new synthetic order
_SCD2_ORACLE = """
WITH cur AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
  FROM orders
),
upd AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT 99999999 AS o_orderkey, 'O' AS o_orderstatus, 123.45 AS o_totalprice
),
j AS (
  SELECT cur.*, upd.o_orderkey AS u_key, upd.o_orderstatus AS u_status,
         upd.o_totalprice AS u_price
  FROM cur FULL OUTER JOIN upd ON cur.o_orderkey = upd.o_orderkey
),
same AS (
  SELECT *,
         (o_orderstatus IS NOT DISTINCT FROM u_status)
           AND (o_totalprice IS NOT DISTINCT FROM u_price) AS unchanged,
         o_orderkey IS NOT NULL AND u_key IS NOT NULL AS matched
  FROM j
)
SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from, valid_to
FROM same WHERE (matched AND unchanged) OR u_key IS NULL
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from, CAST(100 AS BIGINT)
FROM same WHERE matched AND NOT unchanged
UNION ALL
SELECT u_key, u_status, u_price, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
FROM same WHERE (matched AND NOT unchanged) OR o_orderkey IS NULL
"""


@register("scd2_merge_orders", _SCD2_ORACLE)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scd import scd2_merge

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    current = orders.withColumn("valid_from", F.lit(0).cast("long")).withColumn(
        "valid_to", F.lit(None).cast("long")
    )
    updates = (
        orders.where(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .unionAll(
            spark.createDataFrame(
                [(99999999, "O", 123.45)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
        )
    )
    return scd2_merge(
        current, updates, ["o_orderkey"], F.lit(100).cast("long")
    )


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+') AS t
  FROM documents
),
pairs AS (
  SELECT unnest(
    list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i] || chr(1) || t[i+1])
    || list_transform(range(1, greatest(len(t) - 2, 0) + 1), i -> t[i] || chr(1) || t[i+2])
    || list_transform(range(1, greatest(len(t) - 3, 0) + 1), i -> t[i] || chr(1) || t[i+3])
  ) AS p
  FROM toks
),
pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c_xy FROM pairs GROUP BY 1),
tc AS (SELECT unnest(t) AS w FROM toks),
tcc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tc GROUP BY 1),
tot AS (
  SELECT (SELECT CAST(SUM(c_xy) AS DOUBLE) FROM pc) AS np,
         (SELECT CAST(SUM(c) AS DOUBLE) FROM tcc) AS nt
),
scored AS (
  SELECT str_split(p, chr(1))[1] AS x, str_split(p, chr(1))[2] AS y, c_xy
  FROM pc WHERE c_xy >= 5
)
SELECT s.x, s.y, s.c_xy, cx.c AS c_x, cy.c AS c_y,
       ln((CAST(s.c_xy AS DOUBLE) / np)
          / ((CAST(cx.c AS DOUBLE) / nt) * (CAST(cy.c AS DOUBLE) / nt))) AS pmi,
       ln((CAST(s.c_xy AS DOUBLE) / np)
          / ((CAST(cx.c AS DOUBLE) / nt) * (CAST(cy.c AS DOUBLE) / nt)))
         / (-ln(CAST(s.c_xy AS DOUBLE) / np)) AS npmi
FROM scored s
JOIN tcc cx ON cx.w = s.x
JOIN tcc cy ON cy.w = s.y
CROSS JOIN tot
"""


@register("pmi_pairs_documents", _PMI_ORACLE)
def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import pmi_pairs

    return pmi_pairs(load(spark, sf_dir, "documents"), window=3, min_count=5)


# ---------------------------------------------------------------------------
# interpolated bigram-LM document scoring (stronger CCNet-style signal)
# ---------------------------------------------------------------------------

_BIGRAM_LOGPROB_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+') AS t
  FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i] || chr(1) || t[i+1])) AS p
  FROM toks
),
pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1),
bg0 AS (SELECT str_split(p, chr(1))[1] AS w1, str_split(p, chr(1))[2] AS w2, c FROM pc),
hist AS (SELECT w1, SUM(c) AS h FROM bg0 GROUP BY 1),
vocab AS (
  SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
  FROM (SELECT unnest(t) AS w FROM toks)
),
bg AS (
  -- raw conditional probability ratio (correctly-rounded division),
  -- lock-step with bigram_lm's prob column; literals forced DOUBLE
  -- (DuckDB types bare 1.0 as DECIMAL)
  SELECT w1, w2,
         (CAST(c AS DOUBLE) + 1.0::DOUBLE)
           / (CAST(h AS DOUBLE) + 1.0::DOUBLE * (v + 1.0::DOUBLE)) AS bgp
  FROM bg0 JOIN hist USING (w1) CROSS JOIN vocab
),
ucounts AS (
  SELECT w AS token, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
),
utot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total, CAST(COUNT(*) AS DOUBLE) AS vv FROM ucounts),
uni AS (
  SELECT token,
         (CAST(c AS DOUBLE) + 1.0::DOUBLE)
           / (total + 1.0::DOUBLE * (vv + 1.0::DOUBLE)) AS ugp
  FROM ucounts CROSS JOIN utot
),
tf AS (
  SELECT doc_id, str_split(p, chr(1))[1] AS w1, str_split(p, chr(1))[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM pairs GROUP BY 1, 2, 3
),
per AS (
  -- the only transcendental is the final ln of the interpolated
  -- probability, snapped to the DECIMAL(18,10) grid before the
  -- tf-weighted integer-decimal fold (the doc_logprob discipline,
  -- lock-step with doc_logprob_bigram's prob path)
  SELECT tf.doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         SUM(CAST(round(ln(0.7::DOUBLE * bgp + 0.30000000000000004::DOUBLE * ugp), 10)
             AS DECIMAL(18,10)) * CAST(tf AS DECIMAL(19,0))) AS s
  FROM tf
  JOIN bg USING (w1, w2)
  JOIN uni ON uni.token = tf.w2
  GROUP BY 1
)
-- decimal->double via VARCHAR: bit-matches Spark's correctly-rounded cast
SELECT d.doc_id,
       COALESCE(per.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       CAST(CAST(per.s AS VARCHAR) AS DOUBLE) AS sum_logp,
       CAST(CAST(per.s AS VARCHAR) AS DOUBLE) / CAST(per.n_bigrams AS DOUBLE) AS avg_logp
FROM documents d LEFT JOIN per USING (doc_id)
"""


@register("doc_logprob_bigram_documents", _BIGRAM_LOGPROB_ORACLE)
def q_doc_logprob_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import doc_logprob_bigram

    return doc_logprob_bigram(load(spark, sf_dir, "documents"), lam=0.7)


# ---------------------------------------------------------------------------
# robust MAD outlier flags
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH r1 AS (
  -- ranks mirror group_quantiles exactly: NULL values are excluded
  -- from both the ordering and the group count n (percentile_disc
  -- semantics) — ranking them would shift every quantile index
  SELECT event_type, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type,
         MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)) THEN value END) AS group_median
  FROM r1 WHERE rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT))
  GROUP BY event_type
),
dev AS (
  -- row-preserving LEFT join, null-SAFE on the group key (the
  -- operator joins with eqNullSafe): a group whose every value is
  -- NULL has no summary row and its rows survive with NULL flags
  SELECT e.event_id, e.event_type, e.value, med.group_median,
         abs(e.value - med.group_median) AS adev
  FROM events e LEFT JOIN med ON e.event_type IS NOT DISTINCT FROM med.event_type
),
r2 AS (
  SELECT event_type, adev, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev WHERE adev IS NOT NULL
),
mad AS (
  SELECT event_type,
         MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)) THEN adev END) AS group_mad
  FROM r2 WHERE rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT))
  GROUP BY event_type
)
SELECT dev.event_id, dev.event_type, dev.value, dev.group_median,
       mad.group_mad, dev.adev > 3.0 * mad.group_mad AS is_outlier
FROM dev LEFT JOIN mad ON dev.event_type IS NOT DISTINCT FROM mad.event_type
"""


@register("mad_outliers_events", _MAD_ORACLE)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import mad_outliers

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return mad_outliers(
        ev, "value", by=["event_type"], k=3.0, tiebreak=["event_id"]
    ).select(
        "event_id", "event_type", "value", "group_median", "group_mad", "is_outlier"
    )


# ---------------------------------------------------------------------------
# character-level entropy (gibberish / template detector)
# ---------------------------------------------------------------------------

_CHAR_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, unnest(str_split(text, '')) AS c FROM documents
),
counts AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
  FROM chars WHERE c <> '' GROUP BY 1, 2
),
per AS (
  -- ln(k/n) snapped to the DECIMAL(18,10) grid BEFORE the fold
  -- (mirrors the operator: k * snapped_ln is pure integer-decimal
  -- arithmetic; only the final /n touches floats).  decimal->double
  -- via VARCHAR bit-matches Spark's cast.
  SELECT doc_id,
         MAX(n) AS n_chars,
         -- outer snap mirrors the operator: round the one float
         -- division to the 1e-7 grid, recover the exact DECIMAL grid
         -- point, and cast back to double via VARCHAR (correctly
         -- rounded on both engines) — an inner ln-snap flip (≤1e-10)
         -- cannot move the output off this grid
         CAST(CAST(CAST(round(
           -(CAST(CAST(SUM(
                 CAST(round(ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)), 10)
                      AS DECIMAL(18,10)) * CAST(k AS DECIMAL(19,0)))
                 AS VARCHAR) AS DOUBLE)
             / CAST(MAX(n) AS DOUBLE)) + 0.0,
           7) AS DECIMAL(18,7)) AS VARCHAR) AS DOUBLE) AS entropy
  FROM (SELECT doc_id, c, k, SUM(k) OVER (PARTITION BY doc_id) AS n FROM counts)
  GROUP BY doc_id
)
SELECT d.doc_id,
       -- per.n_chars is MAX of a window SUM(BIGINT) — HUGEINT in
       -- DuckDB, and COALESCE(HUGEINT, BIGINT) stays HUGEINT.  A
       -- HUGEINT output column materializes as float64 on pandas/
       -- arrow fetch paths ("500.0" vs "500") and was the actual
       -- r6/r7 driver-hash red here — the entropy doubles were
       -- bit-exact all along.  Outer cast restores BIGINT; see
       -- scripts/audit_oracle_types.py.
       CAST(COALESCE(per.n_chars, 0) AS BIGINT) AS n_chars,
       per.entropy
FROM documents d LEFT JOIN per USING (doc_id)
"""


@register("char_entropy_documents", _CHAR_ENTROPY_ORACLE)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import char_entropy

    return char_entropy(load(spark, sf_dir, "documents").select("doc_id", "text"))


# ---------------------------------------------------------------------------
# as-of join directions: forward / nearest (merge_asof parity)
# ---------------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events
), ref AS (
  SELECT user_id, t, value AS ref_value FROM base WHERE event_id % 10 = 0
)
SELECT b.user_id, b.t, b.event_id, b.value,
       r.t AS ref_t, r.ref_value
FROM base b
ASOF LEFT JOIN ref r ON b.user_id = r.user_id AND b.t <= r.t
"""


@register("asof_join_forward_events", _ASOF_FWD_ORACLE)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    base = events.select(
        "event_id", "user_id", F.expr("ts div 1000").alias("t"), "value"
    )
    ref = base.where(F.col("event_id") % 10 == 0).select(
        "user_id", "t", F.col("value").alias("ref_value")
    )
    return (
        asof_join(
            base, ref, on="t", by="user_id", direction="forward", right_prefix="ref"
        )
        .select("user_id", "t", "event_id", "value", "ref_t", "ref_ref_value")
        .withColumnRenamed("ref_ref_value", "ref_value")
    )


# nearest: two DuckDB ASOF joins (backward + forward), closer wins,
# exact-distance ties to backward — the operator's documented contract
_ASOF_NEAREST_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events
), ref AS (
  SELECT user_id, t, value AS ref_value FROM base WHERE event_id % 10 = 0
), bk AS (
  SELECT b.event_id, r.t AS bt, r.ref_value AS bv
  FROM base b ASOF LEFT JOIN ref r ON b.user_id = r.user_id AND b.t >= r.t
), fw AS (
  SELECT b.event_id, r.t AS ft, r.ref_value AS fv
  FROM base b ASOF LEFT JOIN ref r ON b.user_id = r.user_id AND b.t <= r.t
)
SELECT b.user_id, b.t, b.event_id, b.value,
       CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt
            WHEN (b.t - bt) <= (ft - b.t) THEN bt ELSE ft END AS ref_t,
       CASE WHEN bt IS NULL THEN fv WHEN ft IS NULL THEN bv
            WHEN (b.t - bt) <= (ft - b.t) THEN bv ELSE fv END AS ref_value
FROM base b
JOIN bk ON bk.event_id = b.event_id
JOIN fw ON fw.event_id = b.event_id
"""


@register("asof_join_nearest_events", _ASOF_NEAREST_ORACLE)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    base = events.select(
        "event_id", "user_id", F.expr("ts div 1000").alias("t"), "value"
    )
    ref = base.where(F.col("event_id") % 10 == 0).select(
        "user_id", "t", F.col("value").alias("ref_value")
    )
    return (
        asof_join(
            base, ref, on="t", by="user_id", direction="nearest", right_prefix="ref"
        )
        .select("user_id", "t", "event_id", "value", "ref_t", "ref_ref_value")
        .withColumnRenamed("ref_ref_value", "ref_value")
    )


# ---------------------------------------------------------------------------
# per-source duplication audit
# ---------------------------------------------------------------------------

_DEDUP_REPORT_ORACLE = f"""
WITH corpus AS ({_DUP_SOURCES_SQL}),
hashed AS (
  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h, source AS stratum
  FROM corpus
),
per_hs AS (SELECT h, stratum, CAST(COUNT(*) AS BIGINT) AS n FROM hashed GROUP BY 1, 2),
per_h AS (
  SELECT h, SUM(n) AS total, CAST(COUNT(*) AS BIGINT) AS n_strata
  FROM per_hs GROUP BY 1
)
SELECT stratum,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(CASE WHEN total > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(SUM(CASE WHEN total > 1 THEN n ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n) AS DOUBLE) AS dup_frac,
       CAST(SUM(CASE WHEN n_strata > 1 THEN n ELSE 0 END) AS BIGINT) AS n_cross_dup_docs
FROM per_hs JOIN per_h USING (h)
GROUP BY stratum
"""


@register("dedup_report_documents", _DEDUP_REPORT_ORACLE)
def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_report

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mirrored = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.lit("mirror").alias("source"),
        "text",
    )
    return dedup_report(docs.unionAll(mirrored))


# ---------------------------------------------------------------------------
# per-group percentile-rank calibration
# ---------------------------------------------------------------------------

_RANK_NORM_ORACLE = """
SELECT event_id, event_type, value,
       CASE WHEN COUNT(*) OVER (PARTITION BY event_type) > 1
            THEN CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) - 1 AS DOUBLE)
                 / CAST(COUNT(*) OVER (PARTITION BY event_type) - 1 AS DOUBLE)
            ELSE 0.0 END AS pct_rank
FROM events
"""


@register("rank_normalize_events", _RANK_NORM_ORACLE)
def q_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import rank_normalize

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return rank_normalize(ev, "value", by=["event_type"], tiebreak=["event_id"])


# ---------------------------------------------------------------------------
# per-group OLS trend (closed-form from decimal sufficient statistics)
# ---------------------------------------------------------------------------

_GROUP_OLS_ORACLE = """
WITH d AS (
  SELECT event_type,
         CAST(epoch_ns(ts) AS DOUBLE) / 3.6e12 AS x,
         CAST(value AS DOUBLE) AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n,
         SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS DECIMAL(38,12)) END) AS sx,
         SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y AS DECIMAL(38,12)) END) AS sy,
         SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x * x AS DECIMAL(38,12)) END) AS sxx,
         SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y * y AS DECIMAL(38,12)) END) AS syy,
         SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x * y AS DECIMAL(38,12)) END) AS sxy
  FROM d GROUP BY event_type
),
f AS (
  -- decimal->double via VARCHAR: DuckDB's direct cast divides the
  -- int128 mantissa (two roundings, last-ulp off Spark's correctly-
  -- rounded BigDecimal cast); string->double is correctly rounded and
  -- bit-matches Spark, so the cancellation-prone arithmetic below
  -- starts from identical doubles in both engines.
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
         CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
         CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd,
         CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd
  FROM s
)
SELECT event_type, n,
       CASE WHEN nd * sxxd - sxd * sxd <> 0
            THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) END AS slope,
       CASE WHEN nd * sxxd - sxd * sxd <> 0
            THEN (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd) / nd
       END AS intercept,
       CASE WHEN nd * sxxd - sxd * sxd <> 0 AND nd * syyd - syd * syd <> 0
            THEN ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
                 / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
       END AS r2
FROM f
"""


@register("group_ols_events", _GROUP_OLS_ORACLE)
def q_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import group_ols

    ev = load(spark, sf_dir, "events").withColumn(
        "__x", F.col("ts") / F.lit(3.6e12)
    )
    return group_ols(ev, "__x", "value", by=["event_type"])


# ---------------------------------------------------------------------------
# one-pass pairwise correlation matrix
# ---------------------------------------------------------------------------


def _corr_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    sums = ", ".join(
        f"SUM(CAST({c} AS DECIMAL(38,12))) AS s_{c},"
        f" SUM(CAST({c} * {c} AS DECIMAL(38,12))) AS ss_{c}"
        for c in cols
    )
    crosses = ", ".join(
        f"SUM(CAST({a} * {b} AS DECIMAL(38,12))) AS sp_{i}"
        for i, (a, b) in enumerate(pairs)
    )
    conds = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    selects = []

    # decimal->double via VARCHAR: bit-matches Spark's correctly-rounded
    # cast (DuckDB's direct cast is last-ulp off, which the n·Σxx − Σx²
    # cancellation amplifies ~1e3×)
    def d(col: str) -> str:
        return f"CAST(CAST({col} AS VARCHAR) AS DOUBLE)"

    for i, (a, b) in enumerate(pairs):
        da = f"(nd * {d(f'ss_{a}')} - {d(f's_{a}')} * {d(f's_{a}')})"
        db = f"(nd * {d(f'ss_{b}')} - {d(f's_{b}')} * {d(f's_{b}')})"
        num = f"(nd * {d(f'sp_{i}')} - {d(f's_{a}')} * {d(f's_{b}')})"
        selects.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, n,"
            f" CASE WHEN {da} > 0 AND {db} > 0"
            f" THEN {num} / (sqrt({da}) * sqrt({db})) END AS corr FROM agg"
        )
    union = " UNION ALL ".join(selects)
    return f"""
WITH d AS (
  SELECT CAST(l_quantity AS DOUBLE) AS l_quantity,
         CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
         CAST(l_discount AS DOUBLE) AS l_discount,
         CAST(l_tax AS DOUBLE) AS l_tax
  FROM lineitem WHERE {conds}
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
         {sums}, {crosses}
  FROM d
)
SELECT col_x, col_y, n, corr FROM ({union})
"""


_CORR_MATRIX_ORACLE = _corr_oracle()


@register("corr_matrix_lineitem", _CORR_MATRIX_ORACLE)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import corr_matrix

    li = load(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


# ---------------------------------------------------------------------------
# per-group discretization (equal-width + equal-frequency)
# ---------------------------------------------------------------------------

_DISCRETIZE_ORACLE = """
WITH d AS (
  SELECT event_id, event_type, CAST(value AS DOUBLE) AS v,
         MIN(CAST(value AS DOUBLE)) OVER (PARTITION BY event_type) AS lo,
         MAX(CAST(value AS DOUBLE)) OVER (PARTITION BY event_type) AS hi
  FROM events
)
SELECT event_id, event_type,
       CASE WHEN v IS NULL THEN NULL
            WHEN hi = lo THEN 0
            ELSE LEAST(CAST(FLOOR((v - lo) / ((hi - lo) / 8.0)) AS BIGINT), 7)
       END AS width_bin,
       CASE WHEN v IS NOT NULL
            THEN CAST(ntile(8) OVER (PARTITION BY event_type
                                     ORDER BY v NULLS LAST, event_id) - 1 AS BIGINT)
       END AS freq_bin
FROM d
"""


@register("discretize_events", _DISCRETIZE_ORACLE)
def q_discretize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import discretize

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    wide = discretize(
        ev, "value", 8, method="width", by=["event_type"], out="width_bin"
    )
    both = discretize(
        wide,
        "value",
        8,
        method="freq",
        by=["event_type"],
        tiebreak=["event_id"],
        out="freq_bin",
    )
    return both.select("event_id", "event_type", "width_bin", "freq_bin")


# ---------------------------------------------------------------------------
# smoothed mean target encoding (+ leave-one-out)
# ---------------------------------------------------------------------------

_TARGET_ENCODE_ORACLE = """
WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS y FROM documents
),
pc AS (
  SELECT source,
         CAST(SUM(CASE WHEN y IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         SUM(CASE WHEN y IS NOT NULL THEN CAST(y AS DECIMAL(38,12)) END) AS sy
  FROM d GROUP BY source
),
g AS (
  SELECT CAST(SUM(CASE WHEN y IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_g,
         SUM(CASE WHEN y IS NOT NULL THEN CAST(y AS DECIMAL(38,12)) END) AS syg
  FROM d
)
SELECT d.doc_id, d.source,
       (CAST(pc.sy AS DOUBLE) + 20.0 * (CAST(g.syg AS DOUBLE) / CAST(g.n_g AS DOUBLE)))
         / (CAST(pc.n_c AS DOUBLE) + 20.0) AS te,
       ((CAST(pc.sy AS DOUBLE) - (CASE WHEN d.y IS NOT NULL THEN d.y ELSE 0.0 END))
         + 20.0 * (CAST(g.syg AS DOUBLE) / CAST(g.n_g AS DOUBLE)))
         / (CAST(pc.n_c - (CASE WHEN d.y IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) + 20.0) AS te_loo
FROM d, pc, g WHERE d.source IS NOT DISTINCT FROM pc.source
"""


@register("target_encode_documents", _TARGET_ENCODE_ORACLE)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import target_encode

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    enc = target_encode(docs, "source", "n_chars", smoothing=20.0, out="te")
    enc = target_encode(
        enc, "source", "n_chars", smoothing=20.0, leave_one_out=True, out="te_loo"
    )
    return enc.select("doc_id", "source", "te", "te_loo")


# ---------------------------------------------------------------------------
# triangle counting (degree-ordered node-iterator) over part co-occurrence
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH raw AS (
  SELECT l1.l_partkey AS src, l2.l_partkey AS dst
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
  WHERE l1.l_orderkey % 3 = 0
),
e0 AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT u AS id FROM e0 UNION ALL SELECT v AS id FROM e0)
  GROUP BY id
),
o AS (
  SELECT CASE WHEN du.degree < dv.degree
                   OR (du.degree = dv.degree AND e0.u < e0.v)
              THEN e0.u ELSE e0.v END AS a,
         CASE WHEN du.degree < dv.degree
                   OR (du.degree = dv.degree AND e0.u < e0.v)
              THEN e0.v ELSE e0.u END AS b,
         CASE WHEN du.degree < dv.degree
                   OR (du.degree = dv.degree AND e0.u < e0.v)
              THEN dv.degree ELSE du.degree END AS db
  FROM e0 JOIN deg du ON du.id = e0.u JOIN deg dv ON dv.id = e0.v
),
w AS (
  SELECT o1.a, o1.b AS x, o2.b AS y
  FROM o o1 JOIN o o2 ON o1.a = o2.a
  WHERE o1.db < o2.db OR (o1.db = o2.db AND o1.b < o2.b)
),
tri AS (
  SELECT w.a, w.x, w.y
  FROM w JOIN e0 ON e0.u = LEAST(w.x, w.y) AND e0.v = GREATEST(w.x, w.y)
),
pn AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT a AS id FROM tri UNION ALL SELECT x AS id FROM tri
        UNION ALL SELECT y AS id FROM tri)
  GROUP BY id
)
SELECT deg.id, deg.degree,
       CAST(COALESCE(pn.t, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.degree >= 2
            THEN CAST(2 * COALESCE(pn.t, 0) AS DOUBLE)
                 / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering_coef
FROM deg LEFT JOIN pn ON pn.id = deg.id
"""


@register("triangle_counts_lineitem", _TRIANGLE_ORACLE)
def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import triangle_counts

    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = li.alias("l1").join(
        li.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
    ).select(
        F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst")
    )
    return triangle_counts(pairs)


# ---------------------------------------------------------------------------
# compaction planning (closed-form size binning over a file list)
# ---------------------------------------------------------------------------

_COMPACTION_ORACLE = """
WITH f AS (
  SELECT source,
         source || '/' || CAST(doc_id AS VARCHAR) AS filename,
         n_chars AS bytes
  FROM documents
)
SELECT source, filename, CAST(bytes AS BIGINT) AS bytes,
       CAST(FLOOR(COALESCE(SUM(bytes) OVER (PARTITION BY source
                                            ORDER BY filename) - bytes, 0)
                  / 50000) AS BIGINT) AS bin
FROM f
"""


@register("plan_compaction_documents", _COMPACTION_ORACLE)
def q_plan_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.compaction import plan_compaction

    files = load(spark, sf_dir, "documents").select(
        "source",
        F.concat_ws("/", F.col("source"), F.col("doc_id")).alias("filename"),
        F.col("n_chars").cast("long").alias("bytes"),
    )
    return plan_compaction(files, 50_000, by=["source"])


# ---------------------------------------------------------------------------
# schema-evolution-tolerant union (UNION ALL BY NAME with widening)
# ---------------------------------------------------------------------------

_SAFE_UNION_ORACLE = """
SELECT doc_id, lang, CAST(CAST(n_chars AS INT) AS BIGINT) AS n_chars,
       CAST(NULL AS VARCHAR) AS source
FROM documents
UNION ALL
SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, CAST(n_chars * 2 AS BIGINT) AS n_chars,
       source
FROM documents WHERE doc_id % 2 = 0
"""


@register("safe_union_documents", _SAFE_UNION_ORACLE)
def q_safe_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .utils import safe_union

    docs = load(spark, sf_dir, "documents")
    a = docs.select(
        "doc_id", "lang", F.col("n_chars").cast("int").alias("n_chars")
    )
    b = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", (F.col("n_chars") * 2).cast("long").alias("n_chars"), "source"
    )
    return safe_union([a, b])


# ---------------------------------------------------------------------------
# cohort retention matrix (hourly cohorts over the events table)
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH d AS (
  -- floored division (// truncates toward zero in DuckDB), mirroring
  -- the operator's negative-epoch-safe bucketing
  SELECT user_id AS u,
         (epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000) + 3600000000000)
          % 3600000000000) // 3600000000000 AS p
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
fc AS (SELECT u, MIN(p) AS cohort FROM d GROUP BY u),
act AS (
  SELECT DISTINCT fc.cohort, d.p - fc.cohort AS period_offset, d.u
  FROM d JOIN fc USING (u)
),
per AS (
  SELECT cohort, period_offset, CAST(COUNT(*) AS BIGINT) AS n_active
  FROM act GROUP BY 1, 2
),
cs AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM fc GROUP BY cohort)
SELECT per.cohort, per.period_offset, per.n_active, cs.cohort_size,
       CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
FROM per JOIN cs ON per.cohort = cs.cohort
"""


@register("cohort_retention_events", _COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import cohort_retention

    ev = load(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", 3_600_000_000_000)


# ---------------------------------------------------------------------------
# ordered funnel conversion (view -> click -> purchase)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id AS u, event_type AS et, epoch_ns(ts) AS t
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
s0 AS (SELECT u, MIN(t) AS t0 FROM e WHERE et = 'view' GROUP BY u),
s1 AS (SELECT e.u, MIN(e.t) AS t1 FROM e JOIN s0 ON e.u = s0.u
       WHERE e.et = 'click' AND e.t > s0.t0 GROUP BY e.u),
s2 AS (SELECT e.u, MIN(e.t) AS t2 FROM e JOIN s1 ON e.u = s1.u
       WHERE e.et = 'purchase' AND e.t > s1.t1 GROUP BY e.u),
n AS (SELECT (SELECT COUNT(*) FROM s0) AS n0,
             (SELECT COUNT(*) FROM s1) AS n1,
             (SELECT COUNT(*) FROM s2) AS n2)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, CAST(n0 AS BIGINT) AS n_users,
       CASE WHEN CAST(n0 AS DOUBLE) > 0 THEN CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) END AS frac_of_first,
       CASE WHEN CAST(n0 AS DOUBLE) > 0 THEN CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) END AS frac_of_prev
FROM n
UNION ALL
SELECT CAST(2 AS BIGINT), 'click', CAST(n1 AS BIGINT),
       CASE WHEN CAST(n0 AS DOUBLE) > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) END,
       CASE WHEN CAST(n0 AS DOUBLE) > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) END
FROM n
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase', CAST(n2 AS BIGINT),
       CASE WHEN CAST(n0 AS DOUBLE) > 0 THEN CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) END,
       CASE WHEN CAST(n1 AS DOUBLE) > 0 THEN CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END
FROM n
"""


@register("funnel_events", _FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import funnel

    ev = load(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], "user_id", "ts")


# ---------------------------------------------------------------------------
# vocabulary coverage curve (token-frequency prefix sums)
# ---------------------------------------------------------------------------

_VOCAB_CURVE_ORACLE = f"""
WITH toks AS ({_RANK_TOKS_SQL.strip()} WHERE doc_id % 5 = 0),
counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY token),
tot AS (SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM counts),
r AS (
  SELECT token, freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
         SUM(freq) OVER (ORDER BY freq DESC, token
                         ROWS UNBOUNDED PRECEDING) AS cum_freq
  FROM counts
)
SELECT rank, token, freq, CAST(cum_freq AS BIGINT) AS cum_freq,
       CAST(cum_freq AS DOUBLE) / total AS coverage
FROM r CROSS JOIN tot
WHERE rank <= 200
"""


@register("vocab_curve_documents", _VOCAB_CURVE_ORACLE)
def q_vocab_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import vocab_curve

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return vocab_curve(docs, top_k=200)


# ---------------------------------------------------------------------------
# semantic (embedding-space) benchmark decontamination
# ---------------------------------------------------------------------------

# Bit-exact replay of semantic_decontam_flags (round 12 — formerly a
# documented ulp-band gate): the kernel accumulates norms and dot
# products as FIXED left-to-right folds over the dimensions, so the
# oracle replays the identical float sequence with list_reduce left
# folds — sqrt / divide / multiply are correctly-rounded IEEE ops on
# both engines, MAX is order-independent, and list_cosine_similarity
# (whose internal summation order DuckDB does not document) is no
# longer involved on either side.
_SEMANTIC_DECONTAM_ORACLE = """
WITH bench AS (
  SELECT e, sqrt(list_reduce(list_transform(e, x -> x * x), (p, q) -> p + q)) AS nrm
  FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings
        WHERE vec_id % 97 = 0 AND embedding IS NOT NULL)
  WHERE isfinite(list_reduce(list_transform(e, x -> x * x), (p, q) -> p + q))
    AND list_reduce(list_transform(e, x -> x * x), (p, q) -> p + q) > 0
),
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scorable AS (
  SELECT vec_id, e,
         sqrt(list_reduce(list_transform(e, x -> x * x), (p, q) -> p + q)) AS nrm
  FROM corpus
  WHERE e IS NOT NULL
    AND isfinite(list_reduce(list_transform(e, x -> x * x), (p, q) -> p + q))
    AND list_reduce(list_transform(e, x -> x * x), (p, q) -> p + q) > 0
),
scored AS (
  SELECT s.vec_id,
         MAX(list_reduce(
               list_transform(generate_series(1, len(s.e)),
                              i -> (s.e[i] / s.nrm) * (b.e[i] / b.nrm)),
               (p, q) -> p + q)) AS m
  FROM scorable s CROSS JOIN bench b GROUP BY s.vec_id
)
SELECT c.vec_id, scored.m AS max_benchmark_cosine,
       COALESCE(scored.m >= 0.9, FALSE) AS contaminated
FROM corpus c LEFT JOIN scored ON c.vec_id = scored.vec_id
"""


@register("semantic_decontam_embeddings", _SEMANTIC_DECONTAM_ORACLE)
def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semantic_decontam_flags

    emb = load(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 97 == 0)
    return semantic_decontam_flags(emb, bench, threshold=0.9)


# ---------------------------------------------------------------------------
# categorical association (MI / NMI / chi-squared / Cramér's V)
# ---------------------------------------------------------------------------

_CAT_ASSOC_ORACLE = """
WITH d AS (
  SELECT CAST(lang AS VARCHAR) AS x, CAST(source AS VARCHAR) AS y
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
),
cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS nxy FROM d GROUP BY 1, 2),
mx AS (SELECT x, SUM(nxy) AS nx FROM cells GROUP BY x),
my AS (SELECT y, SUM(nxy) AS ny FROM cells GROUP BY y),
tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cells),
grid AS (
  SELECT mx.x, my.y, CAST(COALESCE(cells.nxy, 0) AS BIGINT) AS o,
         mx.nx, my.ny, tot.n
  FROM mx CROSS JOIN my
  LEFT JOIN cells ON cells.x = mx.x AND cells.y = my.y
  CROSS JOIN tot
),
sums AS (
  SELECT
    CAST(SUM(CAST(
      (CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
      * (CAST(o AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
      AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
    CAST(SUM(CAST(
      CASE WHEN o > 0
           THEN (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
                * LN((CAST(o AS DOUBLE) * CAST(n AS DOUBLE))
                     / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
           ELSE 0.0 END
      AS DECIMAL(38,12))) AS DOUBLE) AS mi,
    CAST(COUNT(DISTINCT x) AS BIGINT) AS r,
    CAST(COUNT(DISTINCT y) AS BIGINT) AS c,
    MAX(n) AS n
  FROM grid
),
hx AS (
  SELECT CAST(SUM(CAST(
    -(CAST(nx AS DOUBLE) / CAST(tot.n AS DOUBLE))
    * LN(CAST(nx AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS hx
  FROM mx CROSS JOIN tot
),
hy AS (
  SELECT CAST(SUM(CAST(
    -(CAST(ny AS DOUBLE) / CAST(tot.n AS DOUBLE))
    * LN(CAST(ny AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS hy
  FROM my CROSS JOIN tot
)
SELECT sums.n AS n, sums.r AS n_x, sums.c AS n_y, sums.mi AS mi,
       CASE WHEN hx.hx > 0 AND hy.hy > 0
            THEN sums.mi / sqrt(hx.hx * hy.hy) ELSE 0.0 END AS nmi,
       sums.chi2 AS chi2,
       CASE WHEN CAST(LEAST(sums.r - 1, sums.c - 1) AS DOUBLE) > 0
            THEN sqrt(sums.chi2 / (CAST(sums.n AS DOUBLE)
                 * CAST(LEAST(sums.r - 1, sums.c - 1) AS DOUBLE)))
            ELSE 0.0 END AS cramers_v
FROM sums CROSS JOIN hx CROSS JOIN hy
"""


@register("cat_assoc_documents", _CAT_ASSOC_ORACLE)
def q_cat_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import categorical_association

    docs = load(spark, sf_dir, "documents")
    return categorical_association(docs, "lang", "source")


# ---------------------------------------------------------------------------
# Welch two-sample t statistic from decimal sufficient statistics
# ---------------------------------------------------------------------------

_TTEST_ORACLE = """
WITH s AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'click' AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    SUM(CASE WHEN event_type = 'click' AND value IS NOT NULL
             THEN CAST(CAST(value AS DOUBLE) AS DECIMAL(38,12)) END) AS sa,
    SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
             THEN CAST(CAST(value AS DOUBLE) AS DECIMAL(38,12)) END) AS sb,
    SUM(CASE WHEN event_type = 'click' AND value IS NOT NULL
             THEN CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE) AS DECIMAL(38,12)) END) AS ssa,
    SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
             THEN CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE) AS DECIMAL(38,12)) END) AS ssb
  FROM events
),
f AS (
  -- decimal->double via VARCHAR: bit-matches Spark's correctly-rounded
  -- cast (DuckDB's direct int128 cast is last-ulp off)
  SELECT na, nb,
         CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
         CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS sad,
         CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS sbd,
         CAST(CAST(ssa AS VARCHAR) AS DOUBLE) AS ssad,
         CAST(CAST(ssb AS VARCHAR) AS DOUBLE) AS ssbd
  FROM s
),
g AS (
  SELECT na, nb,
         CASE WHEN na > 0 THEN sad / nad END AS mean_a,
         CASE WHEN nb > 0 THEN sbd / nbd END AS mean_b,
         CASE WHEN na > 1 THEN (ssad - sad * sad / nad) / (nad - 1) END AS var_a,
         CASE WHEN nb > 1 THEN (ssbd - sbd * sbd / nbd) / (nbd - 1) END AS var_b,
         nad, nbd
  FROM f
)
SELECT na AS n_a, nb AS n_b, mean_a, mean_b, var_a, var_b,
       CASE WHEN na > 1 AND nb > 1 AND (var_a / nad + var_b / nbd) > 0
            THEN (mean_a - mean_b) / sqrt(var_a / nad + var_b / nbd) END AS t_stat,
       CASE WHEN na > 1 AND nb > 1 AND (var_a / nad + var_b / nbd) > 0
            THEN ((var_a / nad + var_b / nbd) * (var_a / nad + var_b / nbd))
                 / ((var_a / nad) * (var_a / nad) / (nad - 1)
                    + (var_b / nbd) * (var_b / nbd) / (nbd - 1)) END AS dof
FROM g
"""


@register("ttest_events", _TTEST_ORACLE)
def q_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import group_ttest

    ev = load(spark, sf_dir, "events")
    return group_ttest(ev, "value", "event_type", "click", "purchase")


# ---------------------------------------------------------------------------
# grid resampling + gap interpolation
# ---------------------------------------------------------------------------

_RESAMPLE_ORACLE = """
WITH d AS (
  -- floored division (// truncates toward zero in DuckDB), mirroring
  -- the operator's negative-epoch-safe bucketing
  SELECT user_id,
         (epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000) + 3600000000000)
          % 3600000000000) // 3600000000000 AS idx,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE user_id % 50 = 0 AND user_id IS NOT NULL
    AND ts IS NOT NULL AND value IS NOT NULL
),
obs AS (
  SELECT user_id, idx,
         CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS obsv
  FROM d GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(idx) AS lo, MAX(idx) AS hi FROM d GROUP BY 1),
spine AS (
  SELECT user_id, lo + u.i AS idx
  FROM span, UNNEST(generate_series(0, hi - lo)) AS u(i)
),
j AS (
  SELECT s.user_id, s.idx, o.obsv
  FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.idx = o.idx
),
w AS (
  SELECT user_id, idx, obsv,
    LAST_VALUE(obsv IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY idx
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN obsv IS NOT NULL THEN idx END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY idx
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
    FIRST_VALUE(obsv IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY idx
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN obsv IS NOT NULL THEN idx END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY idx
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
  FROM j
)
SELECT user_id, idx * 3600000000000 AS bucket_ts,
       CASE WHEN obsv IS NOT NULL THEN obsv
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN pv + (nv - pv) * (CAST(idx - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))
       END AS value,
       obsv IS NULL AS interpolated
FROM w
"""


@register("resample_interpolate_events", _RESAMPLE_ORACLE)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import resample_interpolate

    ev = load(spark, sf_dir, "events").where(F.col("user_id") % 50 == 0)
    return resample_interpolate(
        ev, "ts", "value", 3_600_000_000_000, by=["user_id"]
    )


# ---------------------------------------------------------------------------
# prefix-filtered (PPJoin-style) exact Jaccard pairs — the oracle is the
# brute inverted-index formulation: prefix filtering must lose nothing
# ---------------------------------------------------------------------------

_PREFIX_JACCARD_ORACLE = f"""
WITH {_NGRAM_PAIR_CTES}
SELECT id_a, id_b, common, size_a, size_b, jaccard FROM pairs
"""


@register("prefix_jaccard_documents", _PREFIX_JACCARD_ORACLE)
def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _docs_with_near_dups(spark, sf_dir), n=3, threshold=0.6
    )


# ---------------------------------------------------------------------------
# snapshot-to-snapshot change summary (diff + count rollup)
# ---------------------------------------------------------------------------

_SNAPSHOT_DELTA_ORACLE = """
WITH o AS (SELECT * FROM orders),
n AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 11 = 0
),
j AS (
  SELECT COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
         CASE WHEN o.o_orderkey IS NULL THEN 'I'
              WHEN n.o_orderkey IS NULL THEN 'D'
              WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
                OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
              THEN 'C' ELSE 'N' END AS action
  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderstatus, action, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM j GROUP BY 1, 2
"""


@register("snapshot_delta_orders", _SNAPSHOT_DELTA_ORACLE)
def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scd import snapshot_delta

    old = load(spark, sf_dir, "orders")
    changed = old.where(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    inserted = old.where(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    new = changed.unionByName(inserted)
    return snapshot_delta(old, new, ["o_orderkey"], by=["o_orderstatus"])


# ---------------------------------------------------------------------------
# classifier calibration (reliability diagram + ECE terms)
# ---------------------------------------------------------------------------

_RELIABILITY_ORACLE = """
WITH d AS (
  SELECT CAST((n_chars % 1000) AS DOUBLE) / 1000.0 AS s,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
),
per AS (
  SELECT LEAST(GREATEST(CAST(FLOOR(s * 10) AS BIGINT), 0), 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(s AS DECIMAL(38,12))) AS ss,
         SUM(CAST(y AS DECIMAL(38,12))) AS sy
  FROM d GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM per)
SELECT bin, n,
       CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) AS avg_score,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS frac_positive,
       abs(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
           - CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) AS abs_gap,
       CAST(n AS DOUBLE) / total AS weight,
       (CAST(n AS DOUBLE) / total)
         * abs(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) AS ece_term
FROM per CROSS JOIN tot
"""


@register("reliability_documents", _RELIABILITY_ORACLE)
def q_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import reliability_report

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .select(
            ((F.col("n_chars") % 1000).cast("double") / F.lit(1000.0)).alias("s"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        )
    )
    return reliability_report(docs, "s", "y", bins=10)


# ---------------------------------------------------------------------------
# first-order event transition matrix
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH d AS (
  SELECT user_id AS u, epoch_ns(ts) AS t, event_type AS from_event, event_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
seq AS (
  SELECT from_event,
         LEAD(from_event) OVER (PARTITION BY u ORDER BY t, event_id) AS to_event
  FROM d
),
pairs AS (
  SELECT from_event, to_event, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE to_event IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_event, SUM(n) AS t FROM pairs GROUP BY 1)
SELECT p.from_event, p.to_event, p.n,
       CAST(p.n AS DOUBLE) / CAST(tot.t AS DOUBLE) AS prob
FROM pairs p JOIN tot USING (from_event)
"""


@register("transition_matrix_events", _TRANSITION_ORACLE)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import transition_matrix

    ev = load(spark, sf_dir, "events")
    return transition_matrix(ev, "user_id", "ts", tiebreak=["event_id"])


# ---------------------------------------------------------------------------
# skew-adaptive differential join — oracle is the PLAIN join (the split
# is an execution strategy, never a semantics change)
# ---------------------------------------------------------------------------

_DIFFERENTIAL_JOIN_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_custkey, o.o_totalprice
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_orderkey % 20 = 0
"""


@register("differential_join_lineitem_orders", _DIFFERENTIAL_JOIN_ORACLE)
def q_differential_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import differential_join

    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_totalprice"
    )
    # threshold 5 keeps the hot-key list bounded (hundreds at sf0.01,
    # thousands at sf0.1) while exercising both the hot and cold paths
    return differential_join(
        li, orders, "l_orderkey", heavy_threshold=5, max_heavy_keys=50_000
    )


# ---------------------------------------------------------------------------
# market-basket association rules (order -> parts affinity)
# ---------------------------------------------------------------------------

_ASSOC_RULES_ORACLE = """
WITH mem AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    AND l_orderkey % 4 = 0
),
nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM mem),
ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM mem GROUP BY i),
pairs AS (
  SELECT a.i AS antecedent, c.i AS consequent, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM mem a JOIN mem c ON a.b = c.b AND a.i <> c.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT p.antecedent, p.consequent, p.n_ab,
       ia.n AS n_antecedent, ci.n AS n_consequent,
       CAST(p.n_ab AS DOUBLE) / CAST(nb.nb AS DOUBLE) AS support,
       CAST(p.n_ab AS DOUBLE) / CAST(ia.n AS DOUBLE) AS confidence,
       (CAST(p.n_ab AS DOUBLE) / CAST(ia.n AS DOUBLE))
         / (CAST(ci.n AS DOUBLE) / CAST(nb.nb AS DOUBLE)) AS lift
FROM pairs p
JOIN ic ia ON ia.i = p.antecedent
JOIN ic ci ON ci.i = p.consequent
CROSS JOIN nb
"""


@register("association_rules_lineitem", _ASSOC_RULES_ORACLE)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.basket import association_rules

    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 0)
    return association_rules(li, "l_orderkey", "l_partkey", min_count=2)


# ---------------------------------------------------------------------------
# k-core extraction (synchronous peeling, SQL-unrolled oracle)
# ---------------------------------------------------------------------------

from .operators.graph import k_core_sql as _k_core_sql  # noqa: E402

_KCORE_EDGES_SQL = """SELECT l1.l_partkey AS src, l2.l_partkey AS dst
FROM lineitem l1 JOIN lineitem l2
  ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
WHERE l1.l_orderkey % 2 = 0"""

_KCORE_ORACLE = _k_core_sql(_KCORE_EDGES_SQL, k=3, rounds=8)


@register("k_core_lineitem", _KCORE_ORACLE)
def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import k_core

    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 2 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = li.alias("l1").join(
        li.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
    ).select(
        F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst")
    )
    return k_core(pairs, k=3, rounds=8)


# ---------------------------------------------------------------------------
# exact two-sample Kolmogorov–Smirnov drift test (per group)
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH pv AS (
  SELECT user_id % 4 AS seg, CAST(value AS DOUBLE) AS v,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nb
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
  GROUP BY 1, 2
),
stepped AS (
  SELECT seg, v,
         SUM(na) OVER (PARTITION BY seg ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(nb) OVER (PARTITION BY seg ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(na) OVER (PARTITION BY seg) AS ta,
         SUM(nb) OVER (PARTITION BY seg) AS tb
  FROM pv
),
d AS (
  SELECT seg, v, ta, tb,
         abs((CASE WHEN ta > 0 THEN CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) ELSE 0.0 END)
           - (CASE WHEN tb > 0 THEN CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) ELSE 0.0 END)) AS dd
  FROM stepped
),
picked AS (
  SELECT seg, v, ta, tb, dd,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY dd DESC, v) AS rn
  FROM d
)
SELECT CAST(seg AS BIGINT) AS seg,
       CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
       dd AS ks_stat, v AS ks_at,
       least(1.0, 2.0 * exp(-2.0 * (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)
                                    / CAST(ta + tb AS DOUBLE)) * dd * dd)) AS p_approx
FROM picked WHERE rn = 1
"""


@register("ks_report_events", _KS_ORACLE)
def q_ks_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import ks_report

    ev = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("seg"), "event_type", "value"
    )
    return ks_report(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
        "value",
        by=["seg"],
    )


# ---------------------------------------------------------------------------
# temperature-scaled mixture downsampling (alpha sampling)
# ---------------------------------------------------------------------------

from .operators.sampling import temperature_mix_sql as _temperature_mix_sql

_TEMPERATURE_ORACLE = _temperature_mix_sql(
    "documents", "d.source", 0.5, "d.doc_id", columns="d.doc_id, d.source, d.lang"
)


@register("temperature_mix_documents", _TEMPERATURE_ORACLE)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import temperature_mix

    docs = load(spark, sf_dir, "documents")
    return temperature_mix(docs, "source", 0.5, "doc_id").select(
        "doc_id", "source", "lang"
    )


# ---------------------------------------------------------------------------
# label propagation communities (co-occurrence graph)
# ---------------------------------------------------------------------------

from .operators.graph import label_propagation_sql as _label_propagation_sql

_LPA_EDGES_SQL = """SELECT l1.l_partkey AS src, l2.l_partkey AS dst
FROM lineitem l1 JOIN lineitem l2
  ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
WHERE l1.l_orderkey % 4 = 0"""

_LPA_ORACLE = _label_propagation_sql(_LPA_EDGES_SQL, iterations=4)


@register("label_propagation_lineitem", _LPA_ORACLE)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import label_propagation

    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = li.alias("l1").join(
        li.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
    ).select(
        F.col("l1.l_partkey").alias("src"), F.col("l2.l_partkey").alias("dst")
    )
    return label_propagation(pairs, iterations=4)


# ---------------------------------------------------------------------------
# perceptual-hash (aHash) image fingerprints + banded hamming near-dup
# ---------------------------------------------------------------------------

# the kernel's integer arithmetic replayed over the ASCII corpus (byte i
# of the FAKE payload == character i of text; the decode gate already
# pins the payload identity)
_AHASH_CORE = """
bytes AS (
  SELECT doc_id, L, ord(substring(text, i, 1)) AS b,
         ((i - 1) * 64) // L AS cell
  FROM docs, UNNEST(generate_series(1, L)) AS u(i)
),
cells AS (
  SELECT doc_id, cell, SUM(b) AS s, COUNT(*) AS w, ANY_VALUE(L) AS L
  FROM bytes GROUP BY 1, 2
),
tot AS (SELECT doc_id, SUM(b) AS total FROM bytes GROUP BY 1),
bits AS (
  SELECT c.doc_id, c.cell,
         CASE WHEN c.s * c.L > t.total * c.w THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t USING (doc_id)
),
bands AS (
  SELECT doc_id, cell // 8 AS band,
         CAST(SUM(bit << (7 - (cell % 8))) AS INT) AS val
  FROM bits GROUP BY 1, 2
),
packed AS (
  SELECT d.doc_id, r.range AS band, CAST(COALESCE(bd.val, 0) AS INT) AS val
  FROM (SELECT DISTINCT doc_id FROM docs) d CROSS JOIN range(0, 8) r
  LEFT JOIN bands bd ON bd.doc_id = d.doc_id AND bd.band = r.range
)"""

# comma-joined band bytes instead of the raw array<int>: the driver's
# canonicalizer sorts pandas values and list cells are unhashable
_AHASH_ORACLE = f"""
WITH docs AS (SELECT doc_id, text, length(text) AS L FROM documents),
{_AHASH_CORE}
SELECT doc_id, string_agg(CAST(val AS VARCHAR), ',' ORDER BY band) AS bands_str
FROM packed GROUP BY doc_id
"""


@register("ahash_documents", _AHASH_ORACLE)
def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id",
        _mm.make_fake_image_blob(
            F.col("text"), F.col("doc_id") % 64 + 1, F.col("doc_id") % 48 + 1
        ).alias("blob"),
    )
    return _mm.image_ahash(blobs).select(
        "doc_id",
        F.array_join(F.col("bands").cast("array<string>"), ",").alias("bands_str"),
    )


_AHASH_PAIRS_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text, length(text) AS L FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || 'z' AS text, length(text) + 1 AS L
  FROM documents WHERE doc_id % 5 = 0
),
{_AHASH_CORE},
sig AS (SELECT doc_id, band, val FROM packed),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(bit_count(CAST(xor(sa.val, sb.val) AS BIGINT))) AS INT) AS hamming
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.band = sa.band
  GROUP BY 1, 2
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
"""


@register("ahash_near_dup_documents", _AHASH_PAIRS_ORACLE)
def q_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tweaked = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("z")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(tweaked)
    blobs = corpus.select(
        "doc_id",
        _mm.make_fake_image_blob(F.col("text"), F.lit(8), F.lit(8)).alias("blob"),
    )
    return _mm.ahash_near_dup_pairs(blobs, max_distance=3)


# ---------------------------------------------------------------------------
# distributed BPE: pair statistics, training, segmentation
# ---------------------------------------------------------------------------

from .operators import bpe as _bpe  # noqa: E402

_BPE_PAIRS_ORACLE = _bpe.bpe_pair_counts_sql("documents", "text")


@register("bpe_pair_counts_documents", _BPE_PAIRS_ORACLE)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return _bpe.bpe_pair_counts(docs)


# full training loop replayed in SQL: unrolled per-merge CTEs with the
# double-space merge encoding standing in for Java's lookahead regex
# (see bpe.bpe_train_sql); also verified against a pure-Python
# reference BPE in tests/test_text.py::TestBpe
_BPE_TRAIN_ORACLE = _bpe.bpe_train_sql("documents", n_merges=12)


@register("bpe_train_documents", _BPE_TRAIN_ORACLE)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return _bpe.bpe_train(docs, n_merges=12)


_BPE_SEG_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d")]

# the gate projects the token array to a space-joined string (tokens
# are [a-z0-9]+ fragments, so ' ' is collision-free): the driver's
# canonicalizer sorts pandas values and list cells are unhashable
_BPE_SEG_ORACLE = f"""
WITH seg AS ({_bpe.bpe_segment_sql("documents", _BPE_SEG_MERGES)})
SELECT doc_id, array_to_string(tokens, ' ') AS tokens_str FROM seg
"""


@register("bpe_segment_documents", _BPE_SEG_ORACLE)
def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return _bpe.bpe_segment(docs, _BPE_SEG_MERGES).select(
        "doc_id", F.array_join("tokens", " ").alias("tokens_str")
    )


# ---------------------------------------------------------------------------
# exponentially time-decayed per-group counters
# ---------------------------------------------------------------------------

_DECAYED_ORACLE = """
WITH mx AS (SELECT MAX(epoch_us(ts) * 1000) AS ref FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(
         CASE WHEN ts IS NOT NULL
              THEN pow(0.5, CAST(ref - epoch_us(ts) * 1000 AS DOUBLE)
                            / CAST(3600000000000 AS DOUBLE))
         END AS DECIMAL(38,18))) AS DOUBLE) AS decayed_count,
       CAST(SUM(CAST(
         CASE WHEN ts IS NOT NULL
              THEN pow(0.5, CAST(ref - epoch_us(ts) * 1000 AS DOUBLE)
                            / CAST(3600000000000 AS DOUBLE))
                   * CAST(value AS DOUBLE)
         END AS DECIMAL(38,18))) AS DOUBLE) AS decayed_sum
FROM events CROSS JOIN mx
GROUP BY 1
"""


@register("decayed_aggregates_events", _DECAYED_ORACLE)
def q_decayed_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import decayed_aggregates

    ev = load(spark, sf_dir, "events")
    # library contract: events.ts is epoch NANOSECONDS as long -> the
    # half-life is given in the axis unit (1h = 3.6e12 ns)
    return decayed_aggregates(ev, "ts", "value", 3600 * 10**9, by=["event_type"])


# ---------------------------------------------------------------------------
# audio blob stats (stub decode, integer-exact)
# ---------------------------------------------------------------------------

_AUDIO_ORACLE = """
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         CAST(8000 + doc_id % 3 * 8000 AS INT) AS rate
  FROM documents
),
by_char AS (
  SELECT doc_id, SUM(ord(substring(text, i, 1)) * ord(substring(text, i, 1))) AS energy,
         MAX(ord(substring(text, i, 1))) AS peak
  FROM d, UNNEST(generate_series(1, n)) AS u(i)
  GROUP BY 1
)
SELECT d.doc_id, d.rate AS sample_rate, CAST(d.n AS BIGINT) AS n_samples,
       CAST(d.n * 1000 // d.rate AS BIGINT) AS duration_ms,
       CAST(COALESCE(b.energy, 0) AS BIGINT) AS energy,
       CAST(COALESCE(b.peak, 0) AS INT) AS peak
FROM d LEFT JOIN by_char b USING (doc_id)
"""


@register("audio_stats_documents", _AUDIO_ORACLE)
def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id",
        _mm.make_fake_audio_blob(
            F.col("text"), F.lit(8000) + F.col("doc_id") % 3 * 8000
        ).alias("blob"),
    )
    return _mm.audio_stats(blobs)


# ---------------------------------------------------------------------------
# per-group z-score standardization
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH stats AS (
  SELECT event_type AS k,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS s,
         CAST(CAST(SUM(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS ss
  FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT e.event_id, e.event_type,
       COALESCE(
         CASE WHEN sqrt(greatest(ss / CAST(n AS DOUBLE)
                                 - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)) > 0.0
              THEN (CAST(e.value AS DOUBLE) - s / CAST(n AS DOUBLE))
                   / sqrt(greatest(ss / CAST(n AS DOUBLE)
                                   - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0))
              ELSE 0.0 END, 0.0) AS zscore
FROM events e LEFT JOIN stats ON e.event_type IS NOT DISTINCT FROM stats.k
"""


@register("zscore_events", _ZSCORE_ORACLE)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import zscore_normalize

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return zscore_normalize(ev, "value", by=["event_type"]).select(
        "event_id", "event_type", "zscore"
    )


# ---------------------------------------------------------------------------
# hashing-trick featurization (sparse triplets)
# ---------------------------------------------------------------------------

def _fh_key(col: str, val_expr: "str | None") -> str:
    # categorical: 'col:value' (one feature per distinct value);
    # numeric (val_expr None): the feature NAME alone — one stable
    # index per numeric feature, mirroring the operator
    if val_expr is None:
        return f"'{col}'"
    return f"CONCAT('{col}:', CAST({val_expr} AS VARCHAR))"


def _fh_idx(col: str, val_expr: "str | None", dim: int) -> str:
    key = _fh_key(col, val_expr)
    return (
        f"(CAST(CONCAT('0x', substr(md5({key}), 1, 8)) AS BIGINT) % 2147483648) % {dim}"
    )


def _fh_sign(col: str, val_expr: "str | None") -> str:
    key = f"CONCAT('#', {_fh_key(col, val_expr)})"
    h = f"(CAST(CONCAT('0x', substr(md5({key}), 1, 8)) AS BIGINT) % 2147483648)"
    return f"(CASE WHEN {h} % 2 = 0 THEN 1.0 ELSE -1.0 END)"


_FEATURE_HASH_ORACLE = f"""
WITH parts AS (
  SELECT event_id AS id,
         CAST({_fh_idx('event_type', 'event_type', 64)} AS INT) AS idx,
         {_fh_sign('event_type', 'event_type')} AS weight
  FROM events WHERE event_type IS NOT NULL
  UNION ALL
  SELECT event_id AS id,
         CAST({_fh_idx('user_id', 'user_id', 64)} AS INT) AS idx,
         {_fh_sign('user_id', 'user_id')} AS weight
  FROM events WHERE user_id IS NOT NULL
  UNION ALL
  SELECT event_id AS id,
         CAST({_fh_idx('value', None, 64)} AS INT) AS idx,
         {_fh_sign('value', None)} * CAST(value AS DOUBLE) AS weight
  FROM events WHERE value IS NOT NULL
)
SELECT id, idx,
       CAST(SUM(CAST(weight AS DECIMAL(38,12))) AS DOUBLE) AS weight
FROM parts GROUP BY 1, 2
"""


@register("feature_hash_events", _FEATURE_HASH_ORACLE)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import feature_hash

    ev = load(spark, sf_dir, "events")
    return feature_hash(
        ev, ["event_type", "user_id"], dim=64, id_col="event_id",
        numeric_cols=["value"],
    )


# ---------------------------------------------------------------------------
# exact weighted quantiles per group
# ---------------------------------------------------------------------------

_WQ_ORACLE = """
WITH d AS (
  SELECT lang, n_chars,
         len(regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '[a-z0-9]+')) AS n_toks
  FROM documents
),
pv AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
         SUM(CAST(CAST(n_toks AS DOUBLE) AS DECIMAL(38,12))) AS w
  FROM d
  WHERE n_chars IS NOT NULL AND n_toks > 0
  GROUP BY 1, 2
),
stepped AS (
  SELECT lang, v,
         SUM(w) OVER (PARTITION BY lang ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(w) OVER (PARTITION BY lang) AS tot
  FROM pv
),
spine AS (SELECT * FROM (VALUES (0.5), (0.9)) AS s(q))
-- the VALUES literals type as DECIMAL(2,1); cast the output column to
-- DOUBLE so it matches Spark's float qs on every fetch path (oracle
-- outputs must be BIGINT/DOUBLE — scripts/audit_oracle_types.py)
SELECT lang, CAST(q AS DOUBLE) AS q, MIN(v) AS value
FROM stepped CROSS JOIN spine
WHERE CAST(cum AS DOUBLE) >= q * CAST(tot AS DOUBLE)
GROUP BY 1, 2
"""


@register("weighted_quantiles_documents", _WQ_ORACLE)
def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.features import weighted_quantiles

    from .operators.text import normalize_text

    docs = load(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.size(
            F.regexp_extract_all(normalize_text("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("n_toks"),
    )
    return weighted_quantiles(docs, "n_chars", "n_toks", qs=[0.5, 0.9], by=["lang"])


# ---------------------------------------------------------------------------
# logistic-regression trainer (quality/LID-classifier fitting)
# ---------------------------------------------------------------------------

def _logreg_oracle() -> str:
    from .operators.features import fit_logistic_sql

    return fit_logistic_sql(
        # nullif guards the empty-text division: DuckDB's /0 yields NULL
        # (row excluded by the trainer's filter) while Spark's non-ANSI
        # 0.0/0.0 yields NaN — nullif makes BOTH sides NULL, and the
        # trainer additionally drops NaN features, so operator and
        # oracle agree even on degenerate testdata
        "(SELECT CASE WHEN n_chars > 300 THEN 1.0 ELSE 0.0 END AS y,"
        " CAST(n_chars AS DOUBLE)/1000.0 AS x_len,"
        " CAST(length(text) - length(replace(text,' ','')) AS DOUBLE)"
        "/CAST(nullif(length(text),0) AS DOUBLE) AS x_space"
        " FROM documents)",
        ["x_len", "x_space"],
        "y",
        iterations=8,
        learning_rate=5.0,
        feature_names=["x_len", "x_space"],
    )


@register("fit_logistic_documents", _logreg_oracle())
def q_fit_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 2-feature + intercept logistic model (target: long
    documents) with the bit-stable full-batch GD trainer; the oracle is
    the unrolled 8-iteration CTE replay from ``fit_logistic_sql``."""
    from .operators.features import fit_logistic

    docs = load(spark, sf_dir, "documents")
    feat = docs.select(
        F.when(F.col("n_chars") > 300, 1.0).otherwise(0.0).alias("y"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x_len"),
        (
            (F.length("text") - F.length(F.expr("replace(text,' ','')"))).cast("double")
            / F.expr("nullif(length(text), 0)").cast("double")
        ).alias("x_space"),
    )
    return fit_logistic(feat, "y", ["x_len", "x_space"], iterations=8, learning_rate=5.0)
