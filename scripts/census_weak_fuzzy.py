"""Weak-scaling census for the fuzzy (symmetric-delete) join family.

Round-12 extension of the dedup (r10), ANN (r11) and iterative-family
(r11/r12) censuses: the last candidate-generating family without a
1x/3x/10x measurement is ``fuzzy_dedup_pairs`` (deletion-variant
blocking + exact Levenshtein verification, `operators/fuzzy.py`).
This script times the gate-shaped query (part names, d = 2) on K-fold
replica shards of the sf0.1 part table WITH the per-stage candidate
counts that prove the scaling story: distinct strings, variant
postings, raw bucket-join candidates, length-filtered distinct
candidate pairs, verified pairs.

Weak scaling in the honest sense: each shard's names carry a
``"<digit>" * 3`` suffix unique to the shard, so any cross-shard pair
differs in >= 3 positions that single-character deletions cannot
reconcile — at ``max_deletes = 2`` a variant of a shard-i string can
never equal a variant of a shard-j string (a shared variant needs a
common subsequence of length >= len-2 of BOTH originals, and the
suffixes cap it at len-3).  Cross-shard candidates are therefore
exactly zero by construction and all stage counts must grow ~K-fold,
never K².

One process per scale (fresh JVM, bench confs, codegen warmup on a
200-row slice, min-of-2 timed noop-writes; counts are separate untimed
jobs).  Usage:  python scripts/census_weak_fuzzy.py K
Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

from bench import session

SRC = os.environ.get("SRC", "/root/repo/.bench_cache/sf0.1/part.parquet")
DOC_SRC = os.environ.get("DOC_SRC", "/root/repo/.bench_cache/sf0.1/documents.parquet")
BASE = os.environ.get("BASE", "/tmp/weakscale_part")
K = int(sys.argv[1])

shard_dir = os.path.join(BASE, f"x{K}")
path = os.path.join(shard_dir, "part.parquet")
doc_path = os.path.join(shard_dir, "docprefix.parquet")
if not os.path.exists(path):
    os.makedirs(shard_dir, exist_ok=True)
    # suffix "<digit digit digit>" per shard: intra-shard structure
    # bijective to 1x, cross-shard pairs >= 3 edits apart (see module
    # docstring) so candidates cannot cross shards at d = 2
    duckdb.sql(
        f"""
        COPY (
          SELECT p_partkey + shard * 10000000 AS p_partkey,
                 p_name || repeat(shard::VARCHAR, 3) AS p_name
          FROM '{SRC}', range({K}) t(shard)
        ) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE {max(20000 * K // 32, 2000)})
        """
    )
if not os.path.exists(doc_path):
    os.makedirs(shard_dir, exist_ok=True)
    # high-cardinality companion shape: 24-char document-text prefixes
    # are near-distinct per row, so this target exercises the
    # variant-bucket JOIN path (the part-name target, 64 distinct
    # strings shared by ~300 rows each, exercises the id-expansion
    # path) — together they cover both cost centers of the operator
    duckdb.sql(
        f"""
        COPY (
          SELECT doc_id + shard * 10000000 AS p_partkey,
                 substr(text, 1, 24) || repeat(shard::VARCHAR, 3) AS p_name
          FROM '{DOC_SRC}', range({K}) t(shard)
        ) TO '{doc_path}' (FORMAT PARQUET, ROW_GROUP_SIZE {max(5000 * K // 32, 1000)})
        """
    )

spark = session(32, f"census-weak-fuzzy-x{K}")

from spark_extension_spark.operators.fuzzy import (  # noqa: E402
    deletion_variants,
    fuzzy_dedup_pairs,
)

D = 2
out = {"k": K}

for label, p in (("part_names", path), ("doc_prefixes", doc_path)):
    full = spark.read.parquet(p)
    tiny = full.where(F.col("p_partkey") % 10000000 < 200)
    op = lambda d: fuzzy_dedup_pairs(d, "p_partkey", "p_name", max_distance=D)  # noqa: E731

    op(tiny).write.format("noop").mode("overwrite").save()  # codegen warmup
    spark.catalog.clearCache()
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        op(full).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 2))
        spark.catalog.clearCache()
    rec = {"rows": full.count(), "runs": runs, "min": min(runs)}

    # ---- per-stage candidate counts (untimed; lock-step mirror of
    # fuzzy._string_pairs for measurement only) ----
    strings = full.select(F.col("p_name").alias("__ls")).distinct()
    lv = strings.select(
        "__ls", F.explode(deletion_variants("__ls", D)).alias("__variant")
    )
    rv = lv.select(F.col("__ls").alias("__rs"), "__variant")
    raw = lv.join(rv, "__variant").where(F.col("__ls") < F.col("__rs"))
    len_ok = raw.where(F.abs(F.length("__ls") - F.length("__rs")) <= D)
    cands = len_ok.select("__ls", "__rs").distinct()
    verified = cands.where(F.levenshtein("__ls", "__rs") <= D)

    rec["stages"] = {
        "distinct_strings": strings.count(),
        "variant_postings": lv.count(),
        "raw_bucket_joins": raw.count(),
        "length_filtered": len_ok.count(),
        "distinct_candidate_pairs": cands.count(),
        "verified_string_pairs": verified.count(),
        "id_pairs": op(full).count(),
    }
    out[label] = rec

print(json.dumps(out), flush=True)
spark.stop()
