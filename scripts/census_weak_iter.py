"""Weak-scaling census for the iterative/CC consumer family.

Round-13 completion (VERDICT r12 #2a): the iterative family had a
job-count census but no 1x/3x/10x WALL census.  This times the three
CC-consumer gates — near_dup_clusters, dedup_keep_best,
cluster_splits — and pagerank at K-fold replica shards, with the
stage counts that prove the scaling story.

Sharding reuses the round-10 dedup construction: disjoint doc_ids and
shard-suffixed tokens make cross-shard shingle similarity exactly
zero, so near-dup pairs/clusters grow ~K-fold and the label graph is
K disjoint copies of the 1x graph (diameter invariant — batch count
must NOT grow with K).  PageRank shards the orders-derived bipartite
edge list by key offset: K disjoint components, identical per-shard
structure, rank mass 1/K per shard.

One process per scale (fresh JVM, bench confs, codegen warmup on a
slice, min-of-2 timed noop-writes; counts are separate untimed jobs).
Usage:  python scripts/census_weak_iter.py K
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

DOC_SRC = os.environ.get("DOC_SRC", "/root/repo/.bench_cache/sf0.1/documents.parquet")
ORD_SRC = os.environ.get("ORD_SRC", "/root/repo/.bench_cache/sf0.1/orders.parquet")
BASE = os.environ.get("BASE", "/tmp/weakscale_iter")
K = int(sys.argv[1])

shard_dir = os.path.join(BASE, f"x{K}")
doc_path = os.path.join(shard_dir, "documents.parquet")
ord_path = os.path.join(shard_dir, "orders.parquet")
os.makedirs(shard_dir, exist_ok=True)
if not os.path.exists(doc_path):
    duckdb.sql(
        f"""
        COPY (
          SELECT doc_id + shard * 1000000 AS doc_id,
                 regexp_replace(text, '([a-zA-Z0-9]+)', '\\1x' || shard::VARCHAR, 'g') AS text,
                 lang, source, n_chars
          FROM '{DOC_SRC}', range({K}) t(shard)
        ) TO '{doc_path}' (FORMAT PARQUET, ROW_GROUP_SIZE {max(5000 * K // 32, 1000)})
        """
    )
if not os.path.exists(ord_path):
    duckdb.sql(
        f"""
        COPY (
          SELECT o_orderkey + shard * 100000000 AS o_orderkey,
                 o_custkey + shard * 100000000 AS o_custkey
          FROM (SELECT o_orderkey, o_custkey FROM '{ORD_SRC}'), range({K}) t(shard)
        ) TO '{ord_path}' (FORMAT PARQUET, ROW_GROUP_SIZE {max(50000 * K // 32, 5000)})
        """
    )

spark = session(32, f"census-weak-iter-x{K}")

from spark_extension_spark.operators import dedup as D  # noqa: E402
from spark_extension_spark.operators.graph import pagerank  # noqa: E402
from spark_extension_spark.operators.sampling import assign_splits  # noqa: E402

docs = spark.read.parquet(doc_path)
docs_tiny = docs.where(F.col("doc_id") % 1000000 < 200)
orders = spark.read.parquet(ord_path)
orders_tiny = orders.where(F.col("o_orderkey") % 100000000 < 2000)

out = {"k": K, "docs": docs.count()}


def timed(build, src, tiny):
    build(tiny).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        build(src).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 2))
        spark.catalog.clearCache()
    return runs


def with_quality(d):
    return d.withColumn("quality", F.length("text").cast("long"))


def b_near_dup(d):
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.6)
    return D.near_dup_clusters(pairs)


def b_keep_best(d):
    return D.dedup_keep_best(with_quality(d), "quality", n=3, threshold=0.6)


def b_splits(d):
    return D.leakage_safe_splits(
        d, {"train": 0.9, "val": 0.05, "test": 0.05}, n=3, threshold=0.6,
        seed=42,
    ).select("doc_id", "cluster_id", "split")


def b_pagerank(o):
    e1 = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") + 1000000000).alias("dst"),
    )
    e2 = o.select(
        (F.col("o_orderkey") + 1000000000).alias("src"),
        F.col("o_custkey").alias("dst"),
    )
    return pagerank(e1.unionAll(e2), iterations=3)


for name, build, src, tiny in (
    ("near_dup_clusters", b_near_dup, docs, docs_tiny),
    ("dedup_keep_best", b_keep_best, docs, docs_tiny),
    ("cluster_splits", b_splits, docs, docs_tiny),
    ("pagerank", b_pagerank, orders, orders_tiny),
):
    D.cc_stats_log(clear=True)
    runs = timed(build, src, tiny)
    rec = {"runs": runs, "min": min(runs)}
    st = D.cc_stats_log(clear=True)
    if st:
        rec["cc_iterations"] = [e["iterations"] for e in st]
    out[name] = rec

# stage counts (untimed): pairs and clusters for the CC family
pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.6).persist()
out["stages"] = {
    "pairs": pairs.count(),
    "clusters": D.near_dup_clusters(pairs)
    .where(F.col("doc_id") == F.col("cluster_id"))
    .count(),
}
D.cc_stats_log(clear=True)
pairs.unpersist()

print(json.dumps(out), flush=True)
spark.stop()
