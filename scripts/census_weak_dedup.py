"""Weak-scaling census for the pair-generating dedup operators.

Round-10 extension of the round-9 1x/3x/10x census (PLANS.md): the two
highest-value LLM-dedup pair generators — ``prefix_jaccard_pairs``
(PPJoin prefix filter) and ``minhash_lsh_pairs`` (banded LSH) — timed
at K-fold replica shards of the sf0.1 documents table, WITH the
per-stage candidate counts that prove the scaling story: postings,
candidate pairs, survivors.  Weak scaling in the honest sense: each
shard gets disjoint doc_ids (offset K·1e6, clear of the +200000
planted-near-dup band) and every token carries a shard suffix, so
cross-shard shingle similarity is exactly zero and pair counts grow
~K-fold, never K².

One process per scale (fresh JVM, bench confs, codegen warmup on a
200-doc slice, min-of-2 timed noop-writes; counts are separate untimed
jobs).  Usage:  python scripts/census_weak_dedup.py K
Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import Window
from pyspark.sql import functions as F

from bench import session

SRC = os.environ.get("SRC", "/root/repo/.bench_cache/sf0.1/documents.parquet")
BASE = os.environ.get("BASE", "/tmp/weakscale_docs")
K = int(sys.argv[1])

shard_dir = os.path.join(BASE, f"x{K}")
path = os.path.join(shard_dir, "documents.parquet")
if not os.path.exists(path):
    os.makedirs(shard_dir, exist_ok=True)
    # token shard-suffix: intra-shard structure bijective to 1x,
    # cross-shard shingles disjoint by construction
    duckdb.sql(
        f"""
        COPY (
          SELECT doc_id + shard * 1000000 AS doc_id,
                 regexp_replace(text, '([a-zA-Z0-9]+)', '\\1x' || shard::VARCHAR, 'g') AS text,
                 lang, source, n_chars
          FROM '{SRC}', range({K}) t(shard)
        ) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE {max(5000 * K // 32, 1000)})
        """
    )

spark = session(32, f"census-weak-dedup-x{K}")

from spark_extension_spark.operators.dedup import (
    minhash_lsh_pairs,
    prefix_jaccard_pairs,
    shingles,
)


def with_near_dups(docs):
    # same planted structure as the registry gate (_docs_with_near_dups)
    near = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz7 qq9 extra suffix tokens")).alias("text"),
    )
    return docs.select("doc_id", "text").unionAll(near)


full = with_near_dups(spark.read.parquet(path))
tiny = with_near_dups(
    spark.read.parquet(path).where(F.col("doc_id") % 1000000 < 200)
)

OPS = {
    "prefix_jaccard_pairs": lambda d: prefix_jaccard_pairs(d, n=3, threshold=0.6),
    "minhash_lsh_pairs": lambda d: minhash_lsh_pairs(
        d, n=3, num_hashes=32, bands=8, threshold=0.5
    ),
}

out = {"k": K, "docs": full.count()}
for name, op in OPS.items():
    op(tiny).write.format("noop").mode("overwrite").save()  # codegen warmup
    spark.catalog.clearCache()
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        op(full).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 2))
        spark.catalog.clearCache()
    out[name] = {"runs": runs, "min": min(runs)}

# ---- per-stage candidate counts (untimed; mirrors of the operators'
# internal stage math, kept in lock-step for measurement only) ----
sh = shingles(full, "doc_id", "text", 3)

# prefix filter stages: postings kept by |d| - ceil(t|d|) + 1 over the
# rarest-first global order (mirror of prefix_jaccard_pairs)
t = 0.6
w = Window.partitionBy("doc_id").orderBy(F.col("__df").asc(), F.col("shingle").asc())
wn = Window.partitionBy("doc_id")
ranked = sh.withColumn(
    "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
).select(
    "doc_id",
    "shingle",
    F.row_number().over(w).alias("__pos"),
    F.count(F.lit(1)).over(wn).alias("__size"),
)
plen = F.col("__size") - F.ceil(F.lit(t) * F.col("__size") - F.lit(1e-9)) + F.lit(1)
prefix = ranked.where(F.col("__pos") <= plen).select(
    "doc_id", "shingle", "__pos", "__size"
)
pa = prefix.select(
    F.col("doc_id").alias("id_a"), "shingle",
    F.col("__pos").alias("__pa"), F.col("__size").alias("__sa"),
)
pb = prefix.select(
    F.col("doc_id").alias("id_b"), "shingle",
    F.col("__pos").alias("__pb"), F.col("__size").alias("__sb"),
)
ub = F.least(F.col("__sa") - F.col("__pa"), F.col("__sb") - F.col("__pb")) + F.lit(1)
raw = (
    pa.join(pb, "shingle")
    .where(F.col("id_a") < F.col("id_b"))
    .groupBy("id_a", "id_b")
    .agg(
        F.max(ub).alias("__ub"),
        F.max("__sa").alias("__msa"),
        F.max("__sb").alias("__msb"),
    )
)
filt = raw.where(
    (
        F.least("__msa", "__msb").cast("double")
        >= F.lit(t) * F.greatest("__msa", "__msb").cast("double") - F.lit(1e-9)
    )
    & (
        F.col("__ub")
        >= F.ceil(
            F.lit(t / (1.0 + t)) * (F.col("__msa") + F.col("__msb")).cast("double")
            - F.lit(1e-9)
        )
    )
)
out["prefix_jaccard_pairs"]["stages"] = {
    "shingle_postings": sh.count(),
    "prefix_postings": prefix.count(),
    "raw_candidate_pairs": raw.count(),
    "filtered_candidate_pairs": filt.count(),
    "survivor_pairs": OPS["prefix_jaccard_pairs"](full).count(),
}

# minhash stages: bucket postings (doc × band), candidate pairs =
# Σ_buckets C(size, 2) before the est-jaccard verification
from spark_extension_spark.operators.dedup import minhash_signatures

num_hashes, bands = 32, 8
rows = num_hashes // bands
sig = minhash_signatures(full, "doc_id", "text", 3, num_hashes)
band_cols = [
    F.md5(
        F.concat_ws("_", F.lit(b), *[F.col(f"mh_{b * rows + r}") for r in range(rows)])
    ).alias("bucket")
    for b in range(bands)
]
postings = sig.select(
    "doc_id", F.explode(F.array(*band_cols)).alias("bucket")
).distinct()
bucket_sizes = postings.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
cand_pairs = bucket_sizes.agg(
    F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("p")
).collect()[0]["p"]
out["minhash_lsh_pairs"]["stages"] = {
    "bucket_postings": postings.count(),
    "max_bucket": bucket_sizes.agg(F.max("c")).collect()[0][0],
    "candidate_pairs": int(cand_pairs),
    "survivor_pairs": OPS["minhash_lsh_pairs"](full).count(),
}

print(json.dumps(out), flush=True)
spark.stop()
