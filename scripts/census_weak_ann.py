"""Weak-scaling census for the ANN / similarity family (round 11).

The dedup pair generators got their 1x/3x/10x candidate-count census in
round 10; this is the analog for `rp_lsh_topk`, `ivf_topk`, and the
SemDeDup candidate structure (`semantic_near_dup_pairs`) — the last
LLM-pipeline family whose 100 TB claim rested on plan shape alone.

Shard construction (honest weak scaling): the sf0.1 embeddings table is
replicated K-fold with disjoint vec_ids, and each shard's vectors get a
deterministic per-(shard, dim) sign-flip mask.  A diagonal ±1 matrix is
orthogonal, so INTRA-shard geometry is bit-preserved (every cosine,
every norm), while shards occupy different sign-pattern regions — the
corpus grows K-fold without growing any single semantic neighborhood
K-fold (replicating identical vectors would pile all K copies into the
same LSH bucket / IVF cell and measure K² by construction, which is a
duplicate-data pathology, not scaling).

What the operators claim, and what this measures per K ∈ {1, 3, 10}:
- `rp_lsh_topk` (fixed num_planes): bucket count is fixed at 2^planes,
  so per-query candidates grow ~K-linearly — measured; the scale knob
  is planes ~ log2(N): with planes_K = 12 + ceil(log2 K) the candidate
  count should return to ~constant — also measured.
- `ivf_topk` (fixed centroid list): candidate fraction ≈
  n_probes/n_cells of the corpus, so candidates grow ~K-linearly —
  measured; with n_centroids scaled ∝ K (the documented production
  path: cells track corpus size) per-query candidates ~constant —
  also measured.
- `semantic_near_dup_pairs` (auto cell sizing, the SemDeDup scale
  design): n_cells = ceil(N / target_cell_size) grows with K, cell
  size stays ~constant, so in-cell candidate PAIRS grow ~K-linearly
  (never K²) — measured, plus the derived n_cells and max cell size.

One process per scale (fresh JVM, bench confs, codegen warmup on a
slice, min-of-2 timed noop-writes; counts are separate untimed jobs).
Usage:  python scripts/census_weak_ann.py K
Prints one JSON line.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import session

SRC = os.environ.get("SRC", "/root/repo/.bench_cache/sf0.1/embeddings.parquet")
BASE = os.environ.get("BASE", "/tmp/weakscale_emb")
K = int(sys.argv[1])

spark = session(32, f"census-weak-ann-x{K}")

shard_dir = os.path.join(BASE, f"x{K}")
path = os.path.join(shard_dir, "embeddings.parquet")
if not os.path.exists(path):
    src = spark.read.parquet(SRC)
    shards = []
    # deterministic ±1 per (shard, dim): orthogonal diagonal map —
    # intra-shard cosines bit-preserved, shards in distinct regions.
    # float * ±1.0 is exact, so the float cast back is lossless.
    # (Spark inspects the lambda's arity, so the shard index must be
    # closed over by a factory, not a default argument.)
    def make_flip(s):
        return lambda x, i: (
            x
            * F.when(F.pmod(F.hash(F.lit(s) * 4096 + i), 2) == 0, F.lit(1.0))
            .otherwise(F.lit(-1.0))
        ).cast("float")

    for s in range(K):
        flip = make_flip(s)
        shards.append(
            src.select(
                (F.col("vec_id") + F.lit(s * 1_000_000)).alias("vec_id"),
                F.transform("embedding", flip).alias("embedding"),
                "label",
            )
        )
    full = shards[0]
    for sh in shards[1:]:
        full = full.unionAll(sh)
    full.repartition(32).write.mode("overwrite").parquet(path)

corpus = spark.read.parquet(path)
n_corpus = corpus.count()
# 64 fixed queries from shard 0: the query set must NOT grow with K —
# weak scaling measures per-query candidate growth, not query growth
queries = corpus.where(F.col("vec_id") < 64).select("vec_id", "embedding")
tiny_c = corpus.where(F.col("vec_id") % 1_000_000 < 200)
tiny_q = queries.limit(8)

from spark_extension_spark.operators.similarity import (  # noqa: E402
    _with_buckets,
    ivf_assignments,
    ivf_centroids,
    ivf_topk,
    rp_lsh_topk,
    rp_planes,
    semantic_near_dup_pairs,
)

DIM = len(corpus.select("embedding").first()[0])
PLANES_FIXED = 12
PLANES_SCALED = 12 + max(0, math.ceil(math.log2(K)))
N_CENTS_FIXED = 16
N_CENTS_SCALED = 16 * K
TARGET_CELL = 250

out = {"k": K, "corpus": n_corpus, "dim": DIM,
       "planes_scaled": PLANES_SCALED, "cents_scaled": N_CENTS_SCALED}


def timed(name, fn, warm_fn):
    try:
        warm_fn().write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    spark.catalog.clearCache()
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 2))
        spark.catalog.clearCache()
    out[name] = {"runs": runs, "min": min(runs)}


timed(
    "rp_lsh_topk_fixed",
    lambda: rp_lsh_topk(corpus, queries, k=10, num_planes=PLANES_FIXED, probes=2),
    lambda: rp_lsh_topk(tiny_c, tiny_q, k=10, num_planes=PLANES_FIXED, probes=2),
)
timed(
    "rp_lsh_topk_scaled",
    lambda: rp_lsh_topk(corpus, queries, k=10, num_planes=PLANES_SCALED, probes=2),
    lambda: rp_lsh_topk(tiny_c, tiny_q, k=10, num_planes=PLANES_SCALED, probes=2),
)
cents_fixed = ivf_centroids(corpus, N_CENTS_FIXED)
cents_scaled = ivf_centroids(corpus, N_CENTS_SCALED)
timed(
    "ivf_topk_fixed",
    lambda: ivf_topk(corpus, queries, k=10, n_probes=4, centroids=cents_fixed),
    lambda: ivf_topk(tiny_c, tiny_q, k=10, n_probes=4, centroids=cents_fixed),
)
timed(
    "ivf_topk_scaled",
    lambda: ivf_topk(corpus, queries, k=10, n_probes=4, centroids=cents_scaled),
    lambda: ivf_topk(tiny_c, tiny_q, k=10, n_probes=4, centroids=cents_scaled),
)
timed(
    "semantic_pairs_auto",
    lambda: semantic_near_dup_pairs(
        corpus, threshold=0.9, target_cell_size=TARGET_CELL
    ),
    lambda: semantic_near_dup_pairs(tiny_c, threshold=0.9, target_cell_size=TARGET_CELL),
)

# ---- per-stage candidate counts (untimed; lock-step stage mirrors) ----
def lsh_candidates(planes_n):
    planes = rp_planes(planes_n, DIM, 42)
    c = _with_buckets(corpus.select("vec_id", "embedding"), "embedding", planes, probes=0)
    q = _with_buckets(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")),
        "__qvec", planes, probes=2,
    )
    return (
        c.join(q, "__bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id").distinct().count()
    )


def ivf_candidates(cents):
    c = ivf_assignments(corpus.select("vec_id", "embedding"), cents, "embedding", n_probes=1)
    q = ivf_assignments(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")),
        cents, "__qvec", n_probes=4,
    )
    return (
        c.join(q, "__cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id").distinct().count()
    )


out["cand_lsh_fixed"] = lsh_candidates(PLANES_FIXED)
out["cand_lsh_scaled"] = lsh_candidates(PLANES_SCALED)
out["cand_ivf_fixed"] = ivf_candidates(cents_fixed)
out["cand_ivf_scaled"] = ivf_candidates(cents_scaled)

# ---- round-12: the DEFAULT paths, no manual knob ----
# rp_lsh_topk(num_planes=None) derives ⌈log₂N⌉+1; ivf_topk
# (n_centroids=None) derives ⌈N/target_cell_size⌉.  The census
# criterion: per-query candidates ~flat 1x→10x with the defaults.
from spark_extension_spark.operators.similarity import (  # noqa: E402
    _derive_n_cells,
    _derive_num_planes,
)

planes_default = _derive_num_planes(n_corpus)
cents_default = ivf_centroids(corpus, _derive_n_cells(n_corpus, 128))
out["planes_default"] = planes_default
out["cells_default"] = _derive_n_cells(n_corpus, 128)
out["cand_lsh_default"] = lsh_candidates(planes_default)
out["cand_ivf_default"] = ivf_candidates(cents_default)

n_cells = max(1, -(-n_corpus // TARGET_CELL))
cents_auto = ivf_centroids(corpus, n_cells)
assigned = ivf_assignments(corpus.select("vec_id", "embedding"), cents_auto, "embedding", n_probes=1)
cell_sizes = assigned.groupBy("__cell").count()
left = assigned.select("__cell", F.col("vec_id").alias("id_a"))
right = assigned.select("__cell", F.col("vec_id").alias("id_b"))
out["sem_n_cells"] = n_cells
row = cell_sizes.agg(F.max("count").alias("mx"), F.avg("count").alias("av")).first()
out["sem_max_cell"] = row["mx"]
out["sem_avg_cell"] = round(row["av"], 1)
out["cand_sem_pairs"] = (
    left.join(right, "__cell").where(F.col("id_a") < F.col("id_b")).count()
)

print(json.dumps(out), flush=True)
spark.stop()
