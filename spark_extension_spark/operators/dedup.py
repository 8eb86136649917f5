"""Deduplication operators for training-data pipelines: exact,
n-gram-Jaccard, MinHash+LSH, and SimHash near-duplicate detection.

Scale design (100 TB documents):

* Every hash is derived from ``md5`` column expressions — JVM-side,
  deterministic, identical across engines (no Python UDFs, no RNG).
* Shingling uses ``explode`` + hash-aggregate: one shuffle keyed by
  doc or shingle, never a cross join.
* Candidate generation is an inverted-index equi-join (shared shingle /
  LSH band bucket) — Catalyst executes it as a shuffle hash join keyed
  by the bucket, so only colliding documents ever meet.  A frequency
  cap drops degenerate buckets (stop-shingles) to keep the join skew-free.
* Verification (exact Jaccard / signature agreement) runs only on
  candidate pairs.
"""

from __future__ import annotations

import threading
import warnings
from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import append_job_description
from ..utils import (
    LocalCheckpointCycler,
    UnpersistHandle,
    session_shuffle_partitions,
)
from .similarity import _cap_buckets
from .text import fingerprint, normalize_text

__all__ = [
    "exact_dedup",
    "duplicate_clusters",
    "shingles",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "prefix_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "connected_components",
    "cc_stats_log",
    "near_dup_clusters",
    "dedup_against",
    "near_dedup_against",
    "paragraph_dedup",
    "dedup_keep_best",
    "leakage_safe_splits",
    "winnow_fingerprints",
    "winnow_overlap_pairs",
    "duplicate_source_matrix",
    "dedup_report",
]

# (a, b) parameters of the universal hash family h_i(x) = (a_i*x + b_i) mod P
# over md5-derived 31-bit shingle hashes.  P = 2^31 - 1 (prime); a < 2^30
# keeps a*x < 2^61, safely inside int64.  Fixed seeds => reproducible and
# SQL-replicable.
MINHASH_PRIME = 2147483647


def minhash_params(k: int) -> List[Tuple[int, int]]:
    rows = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(k):
        x = (a * x + b) % (1 << 30)
        pa = x | 1  # odd, < 2^30
        x = (a * x + b) % (1 << 30)
        rows.append((pa, x))
    return rows


def _hash31(col: Column) -> Column:
    """md5-derived 31-bit integer hash of a string column — identical in
    Spark (conv) and DuckDB (hex cast): first 8 hex digits mod 2^31."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % (1 << 31)
    )


def _hash31_sql(expr: str) -> str:
    return f"(CAST(CONCAT('0x', substr(md5({expr}), 1, 8)) AS BIGINT) % 2147483648)"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalized: bool = True
) -> DataFrame:
    """Keep one representative (min id) per distinct content hash.
    One hash aggregate; no join.  NULL text is its own content class
    (one representative survives): ``md5(NULL)`` is NULL and the
    semi-join's null-unsafe equality would otherwise silently drop
    every NULL-text row, so NULLs hash to a sentinel that no real md5
    (32 hex chars) can collide with."""
    content = normalize_text(text_col) if normalized else F.col(text_col)
    hashed = df.withColumn(
        "__content_hash",
        F.coalesce(F.md5(content), F.lit("__null_text__")),
    )
    keep = hashed.groupBy("__content_hash").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(keep, ["__content_hash", id_col], "left_semi")
        .drop("__content_hash")
    )


def duplicate_clusters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalized: bool = True
) -> DataFrame:
    """(content_hash, size, representative id) for every duplicate
    cluster of two or more documents.  NULL text forms its own cluster
    under the same sentinel hash :func:`exact_dedup` uses."""
    content = normalize_text(text_col) if normalized else F.col(text_col)
    return (
        df.select(
            F.coalesce(F.md5(content), F.lit("__null_text__")).alias(
                "content_hash"
            ),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.min(id_col).alias("representative"))
        .where(F.col("cluster_size") > 1)
    )


# ---------------------------------------------------------------------------
# shingling + n-gram Jaccard
# ---------------------------------------------------------------------------


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle), distinct by
    default.  Built from the normalized token array with ``transform``
    over token positions — pure column algebra, exploded once.

    ``distinct=False`` skips the dedup shuffle — correct whenever the
    consumer is insensitive to duplicates (e.g. MinHash minima).

    Overlapping n-grams come from a single lookahead-capture regex pass
    over the normalized text (tokens are ``[a-z0-9]+`` separated by
    single spaces after normalization).  The array-index formulation
    (``transform`` + n ``element_at`` per position) re-evaluates the
    tokenization inside the lambda — Catalyst does not do common
    subexpression elimination across lambda bodies — costing ~50× more."""
    token = "[a-z0-9]+"
    pattern = "(?=(" + (token + " ") * (n - 1) + token + "))" + token
    grams = F.regexp_extract_all(normalize_text(text_col), F.lit(pattern), F.lit(1))
    exploded = df.select(F.col(id_col), F.explode(grams).alias("shingle"))
    return exploded.distinct() if distinct else exploded


def _shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_freq: Optional[int],
    unpersist_handle: Optional[UnpersistHandle],
) -> DataFrame:
    """Shared candidate generator for the exact n-gram pair metrics:
    ``(id_a, id_b, common, size_a, size_b)`` with ``id_a < id_b`` —
    the metric (Jaccard, containment, …) is the caller's projection.

    Per-document sizes and per-shingle document frequencies ride the
    postings as window columns (one exchange each, the second on the
    join key itself), the stop-shingle cap is a filter on the df
    column, and sizes arrive at the verification aggregate as
    ``first()`` of the carried column — the postings lineage has ONE
    consumer and the self-join's two sides are identical subtrees (one
    shuffle write, read twice).  An earlier form aggregated sizes and
    stop-shingle frequencies as separate branches joined back in; five
    consumers of the (persisted) shingle frame raced the cache under
    AQE's parallel broadcast builds — measured 11x full-width re-reads
    of the source at sf0.01.

    A repartition(id)-then-fused-dedup variant (making the size window
    ride the same exchange) was measured in round 13 and REJECTED: a
    cached plan's output partitioning is opaque to consumers under AQE
    (verified with a minimal repro — a downstream groupBy re-shuffles a
    cached ``repartition("x")`` by x), so the window re-shuffles either
    way and the variant only traded the distinct's map-side partial
    dedup for nothing."""
    sh = shingles(df, id_col, text_col, n).persist()
    if unpersist_handle is not None:
        unpersist_handle.add_dataframe(sh)

    postings = sh.withColumn(
        "__size", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    if max_shingle_freq is not None:
        postings = postings.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        ).where(F.col("__df") <= max_shingle_freq)

    left = postings.select(
        F.col(id_col).alias("id_a"), F.col("__size").alias("size_a"), "shingle"
    )
    right = postings.select(
        F.col(id_col).alias("id_b"), F.col("__size").alias("size_b"), "shingle"
    )
    return (
        left.join(right, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("size_a").alias("size_a"),
            F.first("size_b").alias("size_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = 1000,
    unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """Candidate pairs with exact n-gram Jaccard similarity ≥ threshold.

    Inverted-index join: documents pair up only through a shared shingle.
    ``max_shingle_freq`` drops shingles appearing in more documents than
    the cap (stop-shingles) — the standard skew guard: a shingle shared
    by 1M docs would otherwise create 10^12 candidate pairs.

    The shingle postings are persisted; pass an ``unpersist_handle``
    to release the cache after materializing the result — required in
    long-lived sessions (e.g. per-batch inside ``foreachBatch``).
    Plan shape in :func:`_shingle_pair_counts` (shared with
    :func:`ngram_containment_pairs`): single-consumer postings lineage,
    sizes and stop-shingle df as window columns, identical self-join
    sides.
    """
    common = _shingle_pair_counts(
        df, id_col, text_col, n, max_shingle_freq, unpersist_handle
    )
    jaccard = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    return (
        common.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = 1000,
    unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """Candidate pairs by n-gram *containment* — ``|A ∩ B| /
    min(|A|, |B|)`` — the asymmetric near-dup measure Jaccard misses:
    a 100-token excerpt embedded verbatim in a 10k-token page scores
    Jaccard ≈ 0.01 (invisible at any sane threshold) but containment
    1.0.  The standard guard against quote/boilerplate/subset
    duplicates in web corpora, where the smaller document is usually
    the one to drop.

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (documents
    meet only through shared shingles; ``max_shingle_freq`` caps
    stop-shingle postings) — only the final scoring changes.

    Returns ``id_a, id_b, common, size_a, size_b, containment``
    (``id_a < id_b``; the contained side is the one whose size equals
    the denominator ``least(size_a, size_b)``).
    """
    common = _shingle_pair_counts(
        df, id_col, text_col, n, max_shingle_freq, unpersist_handle
    )
    containment = F.col("common") / F.least("size_a", "size_b")
    return (
        common.withColumn("containment", containment)
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "common", "size_a", "size_b", "containment")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """k-permutation MinHash signature per document: columns
    ``mh_0..mh_{k-1}``.  One explode + one hash aggregate computing all
    k minima map-side — a single shuffle of (doc, k ints).  Shingles are
    deliberately NOT deduplicated first: min() is duplicate-insensitive,
    so the distinct's extra shuffle would buy nothing."""
    sh = shingles(df, id_col, text_col, n, distinct=False)
    # materialize the md5-derived hash as a column BEFORE aggregating:
    # embedding the expression in each of the k aggregates would make
    # codegen evaluate the md5 k times per row
    hashed = sh.select(F.col(id_col), _hash31(F.col("shingle")).alias("__h"))
    h = F.col("__h")
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % MINHASH_PRIME).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: Optional[int] = 10_000,
    unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH.

    Signatures are split into ``bands``; documents colliding on any
    band's full row-hash become candidates (equi-join on the band
    bucket), then candidates are verified by estimated Jaccard =
    fraction of agreeing signature components ≥ threshold.

    ``max_bucket_size`` drops degenerate band buckets before the
    self-join (a bucket of B members yields B² candidates — the classic
    LSH blowup on boilerplate-heavy corpora); ``None`` disables the
    guard.  The signature frame is persisted; pass an
    ``unpersist_handle`` to release the cache after materializing the
    result.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be divisible by bands ({bands})")
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes).persist()
    if unpersist_handle is not None:
        unpersist_handle.add_dataframe(sig)

    band_cols = [
        F.md5(F.concat_ws("_", F.lit(b), *[F.col(f"mh_{b * rows + r}") for r in range(rows)]))
        .alias("bucket")
        for b in range(bands)
    ]
    # the signature array rides with each bucket posting so pairs are
    # verified inside the bucket self-join — no join back to the
    # signature frame (whose two consumers raced the persist; see
    # near_dedup_against).  A pair meeting in several buckets evaluates
    # the agree projection once per bucket; the final distinct is
    # exact because est_jaccard is a pure function of the pair.
    sig_arr = F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])
    buckets = _cap_buckets(
        sig.select(
            F.col(id_col),
            sig_arr.alias("__sig"),
            F.explode(F.array(*band_cols)).alias("bucket"),
        ).distinct(),
        "bucket",
        max_bucket_size,
    )

    left = buckets.select(
        F.col(id_col).alias("id_a"), F.col("__sig").alias("sig_a"), "bucket"
    )
    right = buckets.select(
        F.col(id_col).alias("id_b"), F.col("__sig").alias("sig_b"), "bucket"
    )
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x))
    return (
        left.join(right, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("est_jaccard", agree / F.lit(num_hashes))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .distinct()
    )


# ---------------------------------------------------------------------------
# incremental dedup: a new batch against an already-accepted corpus
# ---------------------------------------------------------------------------


def dedup_against(
    new: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Rows of ``new`` whose normalized text does not occur anywhere in
    ``seen`` — the incremental form of :func:`exact_dedup` for rolling
    ingestion (today's crawl against the accepted corpus), where
    re-deduplicating the full history per batch would rescan 100 TB.

    One md5 fingerprint projection per side + an anti-join keyed by the
    fingerprint: ``seen`` contributes only its distinct fingerprints
    (16 bytes/doc), never its text, and with a small batch AQE turns
    the probe into a broadcast.  Duplicates *within* ``new`` survive —
    compose :func:`exact_dedup` on the batch first."""
    seen_fp = seen.select(fingerprint(text_col).alias("__fp")).distinct()
    return (
        new.withColumn("__fp", fingerprint(text_col))
        .join(seen_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def near_dedup_against(
    new: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: Optional[int] = 10_000,
    new_unpersist_handle: Optional[UnpersistHandle] = None,
    seen_unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """Rows of ``new`` with no MinHash near-duplicate in ``seen`` — the
    incremental form of :func:`minhash_lsh_pairs`: candidates meet
    through banded-signature buckets (equi-join keyed by bucket, new ×
    seen instead of self×self), agreement-verified at ``threshold``,
    and any ``new`` row with a confirmed match is dropped.

    Both corpora hash with the same fixed seeds (:func:`minhash_params`)
    so signatures are comparable across batches — and persistable:
    at steady state the ``seen`` side's signatures/buckets should be
    precomputed once and reused per batch (pass the signature frame
    through ``seen`` is not needed — persist upstream; the handles
    release this call's caches).  ``max_bucket_size`` caps both sides'
    degenerate buckets (a boilerplate bucket of B_new × B_seen members
    otherwise dominates the join).  Near-duplicates *within* ``new``
    survive — compose :func:`minhash_lsh_pairs` on the batch first."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be divisible by bands ({bands})")
    rows = num_hashes // bands

    sig_new = minhash_signatures(new, id_col, text_col, n, num_hashes).persist()
    sig_seen = minhash_signatures(seen, id_col, text_col, n, num_hashes).persist()
    if new_unpersist_handle is not None:
        new_unpersist_handle.set_dataframe(sig_new)
    if seen_unpersist_handle is not None:
        seen_unpersist_handle.set_dataframe(sig_seen)

    band_cols = [
        F.md5(F.concat_ws("_", F.lit(b), *[F.col(f"mh_{b * rows + r}") for r in range(rows)]))
        .alias("bucket")
        for b in range(bands)
    ]

    # the full signature array rides along with each bucket posting, so
    # candidate pairs are agreement-verified INSIDE the bucket join —
    # no join back to the signature frames.  (The earlier form joined a
    # deduplicated candidate-pair list against each signature frame a
    # second time; each frame had two consumers, and parallel branch
    # materialization raced the persist — measured 15 scan stages at
    # sf0.01 where this form runs 5.)  A pair meeting in several
    # buckets evaluates the agree predicate once per bucket, which is a
    # projection, not a join; the final distinct dedups the ids.
    sig_arr = F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])

    def buckets_of(sig: DataFrame, out_id: str, out_sig: str) -> DataFrame:
        return _cap_buckets(
            sig.select(
                F.col(id_col).alias(out_id),
                sig_arr.alias(out_sig),
                F.explode(F.array(*band_cols)).alias("bucket"),
            ).distinct(),
            "bucket",
            max_bucket_size,
        )

    agree = F.size(
        F.filter(F.zip_with("__sig_n", "__sig_s", lambda a, b: a == b), lambda x: x)
    )
    dirty = (
        buckets_of(sig_new, "__new_id", "__sig_n")
        .join(buckets_of(sig_seen, "__seen_id", "__sig_s"), "bucket")
        .where(agree / F.lit(num_hashes) >= threshold)
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    return new.join(dirty, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """Per-document SimHash: tokens hashed to ``bits``-bit values, each
    bit position majority-voted across tokens.  Explode + one aggregate
    with ``bits`` conditional sums (all map-side combined)."""
    # two md5-derived 32-bit halves give 64 deterministic bits; hashed
    # ONCE in the projection — referencing the md5 expression from all
    # `bits` vote sums would inline it `bits` times into the aggregate
    # (Catalyst does no CSE across aggregate expressions), exploding
    # codegen size and compile time
    hi = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(F.col("token")), 9, 8), 16, 10).cast("long")
    tokens = (
        df.select(
            F.col(id_col),
            F.explode(F.split(normalize_text(text_col), " ")).alias("token"),
        )
        .where(F.col("token") != "")
        .select(F.col(id_col), hi.alias("__hi"), lo.alias("__lo"))
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("__hi") if i < 32 else F.col("__lo"), i % 32) % 2 == 1, 1
            ).otherwise(-1)
        ).alias(f"bit_{i}")
        for i in range(bits)
    ]
    voted = tokens.groupBy(id_col).agg(*votes)
    value = None
    for i in range(bits):
        # bit 63 is the sign bit of int64: add its two's-complement weight
        weight = F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long")
        bit = F.when(F.col(f"bit_{i}") > 0, weight).otherwise(F.lit(0).cast("long"))
        value = bit if value is None else value + bit
    return voted.select(F.col(id_col), value.alias("simhash"))


# ---------------------------------------------------------------------------
# connected components — pair lists -> dedup cluster assignments
# ---------------------------------------------------------------------------

# Debug instrumentation: one entry appended per connected_components
# outcome in this process ({"algorithm", "iterations",
# "max_iterations", "converged"}) — converged=False entries record
# blown iteration budgets just before the RuntimeError raises.  The
# iteration count is what the convergence-check amortization actually
# paid for — the label algorithm checks only every `check_every`
# steps, so the recorded number is an upper bound on the graph
# diameter rounded up to the batch size.  Process-global; never
# consulted by library code.  Bounded drop-oldest at _CC_STATS_MAX so
# a long-lived driver that never drains it cannot accumulate unbounded
# entries.  The lock serializes append+trim against snapshot+clear
# (drivers legitimately run CC from several job threads); it is taken
# once per CC *call*, never per row, so contention is nil.
_CC_STATS_LOG: list = []
_CC_STATS_MAX = 10_000
_CC_STATS_LOCK = threading.Lock()


def cc_stats_log(clear: bool = False) -> list:
    """Snapshot (optionally drain) the per-call connected-components
    iteration log — debug/ops introspection for sizing
    ``max_iterations`` and attributing iterative cost in benchmarks.
    Snapshot and drain happen under one lock, so a record appended by
    a concurrent call is either returned now or kept for the next
    drain — never lost."""
    with _CC_STATS_LOCK:
        out = [dict(e) for e in _CC_STATS_LOG]
        if clear:
            del _CC_STATS_LOG[:]
        return out


def _record_cc_stats(
    algorithm: str, iterations: int, max_iterations: int, converged: bool = True
) -> None:
    with _CC_STATS_LOCK:
        _CC_STATS_LOG.append(
            {
                "algorithm": algorithm,
                "iterations": iterations,
                "max_iterations": max_iterations,
                "converged": converged,
            }
        )
        if len(_CC_STATS_LOG) > _CC_STATS_MAX:
            del _CC_STATS_LOG[: len(_CC_STATS_LOG) - _CC_STATS_MAX]


def _cc_label_propagation(
    sym: DataFrame, max_iterations: int, check_every: int,
    cycler: Optional[LocalCheckpointCycler] = None,
) -> DataFrame:
    """Min-label propagation over persisted symmetric edges ``sym``
    (columns ``src``, ``dst``, hash-partitioned on ``src`` by the
    caller), which hold one self-loop ``(v, v)`` per node.  Labels are
    monotone non-increasing, so "converged" == "no row got a strictly
    smaller label this batch".

    Step shape (round 14): ``sym ⋈ labels on src``, then ``min(label)``
    grouped by ``dst`` — one join and one aggregate.  The self-loop
    hands each node its own previous label through the same join, so a
    step reads the previous state ONCE and a batch of k steps
    references the edge cache k times.  (Reading the state twice per
    step — once for the neighbours, once for the node itself — doubles
    the plan per step: 63 edge-cache references at 5 steps, and seconds
    of driver planning per batch.)  Step 1 needs no seed frame: every
    label starts as the node's own id, so it is ``min(src)`` grouped by
    ``dst``.

    Convergence is judged on the batch's LAST step alone (round 13):
    that step also keeps ``__old``, the label its self-loop carried in
    (exactly one non-null per id), so ``changed == 0`` means the final
    step was a no-op — and monotone labels make a single no-op step a
    fixpoint proof.  Batch jobs are ``ceil((d + 1) / check_every)`` for
    a graph of diameter d.  A null id links nothing: its row takes the
    min of its neighbours' previous labels and has no ``__old``, so it
    is final as soon as they are and never counts as a change.

    Convergence is read from an :class:`~pyspark.sql.Observation` bound
    to the batch's checkpoint materialization job (verified: eager
    ``localCheckpoint`` fulfills observe metrics; the
    one-job-per-batch shape is pinned by test).

    Each batch ends in ``localCheckpoint(eager=True)``: the plan is
    linear in the step count, but without lineage truncation it would
    still grow with every batch, and so would the lineage a task
    failure recomputes.  (``persist`` caches data but keeps the full
    lineage.)  The ``cycler`` frees each superseded checkpoint
    generation as the next one lands (each batch reads only the
    previous labels, so lag 1)."""
    from pyspark.sql import Observation

    ck = cycler.checkpoint if cycler is not None else (
        lambda df: df.localCheckpoint(eager=True)
    )
    labels = None
    steps_done = 0
    while steps_done < max_iterations:
        batch = min(check_every, max_iterations - steps_done)
        # compose `batch` propagation steps lazily; one job materializes
        # the whole batch at the checkpoint below
        for i in range(batch):
            if labels is None:  # step 1: each label starts as the node id
                edges = sym.withColumn("label", F.col("src"))
            else:
                # left: a null src matches no label, and the (null, null)
                # self-loop keeps a null id's row (min ignores the null)
                edges = sym.join(
                    labels.select(F.col("id").alias("src"), "label"), "src", "left"
                )
            aggs = [F.min("label").alias("label")]
            if i == batch - 1:
                own = F.when(F.col("src") == F.col("dst"), F.col("label"))
                aggs.append(F.max(own).alias("__old"))
            labels = edges.groupBy(F.col("dst").alias("id")).agg(*aggs)
        obs = Observation()
        changed = F.count(F.when(F.col("label") < F.col("__old"), 1))
        n = steps_done // check_every + 1
        with append_job_description(f"connected_components:batch{n}"):
            labels = ck(labels.observe(obs, changed.alias("changed")))
        steps_done += batch
        if obs.get["changed"] == 0:
            _record_cc_stats("label", steps_done, max_iterations)
            return labels.select("id", F.col("label").alias("cluster_id"))
    _record_cc_stats("label", max_iterations, max_iterations, converged=False)
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        f"iterations — pathological chain graph; use a larger limit "
        f"or algorithm='star'"
    )


def _cc_star(
    sym: DataFrame, max_iterations: int,
    cycler: Optional[LocalCheckpointCycler] = None,
) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond").  Converges in
    O(log^2 n) rounds on ANY graph — the escape hatch for adversarial
    long-chain graphs where label propagation needs diameter rounds.

    Invariant maintained on the working edge set: edges are kept
    directed high→low (``src > dst``), so each round is two
    (aggregate-min + join + filter) passes and a distinct.  Every round
    ends in ``localCheckpoint(eager=True)`` — each round references the
    previous edge set ~4×, so without lineage truncation the plan grows
    as 4^rounds and plan analysis OOMs the driver (``persist`` does not
    truncate lineage).
    """
    # lag 3: checkpoints land as w0, lg1, s1, lg2, s2, …, and the
    # convergence delta after ck(s_r) still joins s_r against the
    # previous round's work set s_{r-1} — two generations back at that
    # moment — so the newest THREE generations must stay live; freeing
    # at lag 3 only ever drops lg_{r-1} / s_{r-2}, both dead by then
    ck = cycler.checkpoint if cycler is not None else (
        lambda df: df.localCheckpoint(eager=True)
    )
    # high→low orientation; drop self-loops
    with append_job_description("connected_components:star0"):
        work = ck(
            sym.where(F.col("src") != F.col("dst"))
            .select(
                F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"),
            )
            .distinct()
        )
    nodes = sym.select(F.col("src").alias("id")).distinct()
    for round_ in range(max_iterations):
        with append_job_description(f"connected_components:star{round_ + 1}"):
            # -- large-star: for every node n, connect strictly-larger
            #    neighbours to m(n) = min over Γ(n) ∪ {n}
            nbrs = work.union(work.select(F.col("v").alias("u"),
                                          F.col("u").alias("v")))
            mins = (
                nbrs.groupBy("u")
                .agg(F.min("v").alias("__mv"))
                .select("u", F.least("__mv", "u").alias("m"))
            )
            large = (
                nbrs.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            # -- small-star on the large-star output (still high→low):
            #    connect all ≤ neighbours (and self) of n to the minimum
            lg = ck(large.where(F.col("u") != F.col("v")).distinct())
            smins = lg.groupBy("u").agg(F.min("v").alias("m"))
            small = ck(
                lg.join(smins, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(smins.select("u", F.col("m").alias("v")))
                .where(F.col("u") != F.col("v"))
                .distinct()
            )
            # converged when the edge set is stable (star edges fixed)
            delta = (
                small.join(work, ["u", "v"], "left_anti").limit(1).count()
                + work.join(small, ["u", "v"], "left_anti").limit(1).count()
            )
        work = small
        if delta == 0:
            _record_cc_stats("star", round_ + 1, max_iterations)
            # stars: every non-root points straight at its component
            # minimum; roots (the minima) have no outgoing edge
            return (
                nodes.join(work, nodes["id"] == work["u"], "left")
                .select(
                    "id",
                    F.coalesce(F.col("v"), F.col("id")).alias("cluster_id"),
                )
            )
    _record_cc_stats("star", max_iterations, max_iterations, converged=False)
    raise RuntimeError(
        f"connected_components(star) did not converge in "
        f"{max_iterations} rounds"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    check_every: int = 3,
    algorithm: str = "label",
    unpersist_handle: Optional[UnpersistHandle] = None,
    warn_single_use: bool = True,
    _warn_stacklevel: int = 2,
) -> DataFrame:
    """Connected components over an undirected edge list: one row per
    node with ``cluster_id`` = the smallest node id reachable from it.
    The step that turns near-duplicate *pairs* (LSH / n-gram Jaccard
    output) into dedup *decisions* (keep one doc per cluster).

    ``algorithm='label'`` (default): min-label propagation — each step
    is one equi-join + one min-aggregate keyed by node id; steps needed
    = graph diameter (near-dup graphs are piles of small cliques —
    single digits).  Convergence is detected from a filter-count over
    the checkpointed step output (labels are monotone non-increasing),
    judged on each batch's LAST step alone so the batch that reaches
    the fixpoint also proves it, and only every ``check_every`` steps,
    so the per-step driver sync the naive loop pays is amortized away.
    Batch jobs are ``ceil((diameter + 1) / check_every)``; the default
    3 covers the common clique-pile shape (diameter ≤ 2) in ONE batch
    at the cost of at most 2 no-op steps past the fixpoint — on a
    diameter-heavy graph prefer a larger ``check_every`` (fewer driver
    syncs) or ``algorithm='star'``.  Iteration state is
    ``localCheckpoint``-ed once per batch to keep lineage bounded; on a
    fault-tolerance-critical cluster job, set a checkpoint dir and swap
    in reliable ``checkpoint()``.  Every job this algorithm launches
    carries the description ``connected_components:edges``,
    ``:batch{i}`` or ``:result``, appended to the caller's own.

    ``algorithm='star'``: alternating large-star / small-star
    contraction, O(log^2 n) rounds on any graph — use for adversarial
    long-chain graphs where diameter-many label steps would be slow.
    Its jobs are labelled ``:edges``, ``:star0`` (orienting the edge
    set), ``:star{r}`` for round r, and ``:result``.

    The (possibly expensive) upstream ``edges`` pipeline is read
    exactly once: symmetrization explodes each edge into both
    directions in a single pass (a union of two scans would recompute
    the full pair-generation DAG per branch), and the symmetric edge
    set is persisted and forced before the loop.
    The returned labels are persisted (already materialized — reading
    them costs nothing); pass an ``unpersist_handle`` to release that
    cache when done, as with the other persisting dedup operators.
    Per-round ``localCheckpoint`` generations are freed as they are
    superseded (:class:`~spark_extension_spark.utils.
    LocalCheckpointCycler`).  The FINAL generation backs the returned
    labels' lineage, and its lifetime follows the handle: with an
    ``unpersist_handle`` it stays live until the handle fires (the
    result remains recomputable after cache-block loss), and the handle
    call then returns storage fully to baseline — firing it declares
    the caller done; the result is spent after that.  Without a handle
    the final generation is freed immediately — the labels are already
    materialized in the persisted result, but if that cache is later
    dropped (manual ``unpersist``, executor failure) a re-run fails
    with a missing-checkpoint-block error: treat the no-handle result
    as single-use-per-materialization, or pass a handle.  On a mid-loop
    failure every generation is freed before the exception propagates.

    ``warn_single_use=False`` suppresses the no-handle runtime warning
    — for callers that consume the labels immediately (one action, then
    done) and accept the single-use contract knowingly.
    ``_warn_stacklevel`` lets the composed operators that wrap this one
    point the warning at *their* caller instead of library internals.
    """
    # Symmetrize in ONE pass over the (possibly expensive) upstream
    # pair pipeline: explode each edge into both directions instead of
    # a union of two scans.  The union form needed a separate
    # persist+count of the forward edges so its two branches would not
    # re-run the pair generation; the explode form reads it exactly
    # once inside sym's own forcing action — one cache and one job
    # fewer per call.  Each edge also yields the self-loops (src, src)
    # and (dst, dst): a label step then carries every node's own label
    # through the same join as its neighbours' (one join + one
    # aggregate per step, a plan linear in the step count — see
    # _cc_label_propagation); _cc_star drops them with its src != dst
    # filter.  Hash-partitioned on src ONCE: every label step joins on
    # src (an arbitrary layout would reshuffle the full edge list into
    # the join EVERY step).
    both_dirs = F.explode(
        F.array(*[
            F.struct(F.col(a).alias("src"), F.col(b).alias("dst"))
            for a, b in ((src, dst), (dst, src), (src, src), (dst, dst))
        ])
    )
    # the edge dedup rides the src repartition: hash(src) collocates
    # every (src, dst) group, so dropDuplicates fuses onto that one
    # exchange — the former distinct()-then-repartition paid TWO full
    # edge-list exchanges in this cache build (round 13; note the win
    # is build-side only — a cached plan's output partitioning is
    # opaque to consumers under AQE, so the loop's per-batch join
    # re-shuffles the cached edges either way, once per batch via AQE
    # stage reuse across the composed steps)
    sym = (
        edges.select(both_dirs.alias("__e"))
        .select("__e.src", "__e.dst")
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    with append_job_description("connected_components:edges"):
        sym.count()  # force once: later consumers read the warm cache
    spark = edges.sparkSession
    cycler = None
    ok = False
    try:
        if algorithm == "star":
            cycler = LocalCheckpointCycler(spark, lag=3)
            out = _cc_star(sym, max_iterations, cycler)
        elif algorithm == "label":
            cycler = LocalCheckpointCycler(spark, lag=1)
            out = _cc_label_propagation(sym, max_iterations, check_every, cycler)
        else:
            raise ValueError(
                f"unknown algorithm {algorithm!r}: expected 'label' or 'star'"
            )
        # force the result before releasing the inputs below — otherwise
        # the caller's first action would recompute the whole upstream
        # edge pipeline with every cache already dropped
        out = out.persist()
        if unpersist_handle is not None:
            unpersist_handle.add_dataframe(out)
        with append_job_description("connected_components:result"):
            out.count()
        ok = True
        return out
    finally:
        sym.unpersist()
        if cycler is not None:
            if not ok:
                # failure path (non-convergence, mid-loop error):
                # nothing escapes the loop — free every generation now
                # instead of leaking them until ContextCleaner GC
                cycler.release()
            elif unpersist_handle is not None:
                # keep the final generation (it backs `out`'s lineage —
                # see docstring) until the caller's handle fires; the
                # handle call then returns storage fully to baseline
                cycler.release_superseded()
                unpersist_handle.add_callback(cycler.release)
            else:
                # no handle: free everything now.  The persisted result
                # is already materialized; only a later cache-block loss
                # would need the freed checkpoint (documented).  Keeping
                # it would accumulate one generation per call with no
                # release point — measured as session-wide storage
                # pressure across a 149-query benchmark.  The warning
                # makes the single-use contract discoverable at runtime
                # (dedupes per call site by the default warnings filter).
                if warn_single_use:
                    warnings.warn(
                        "connected_components called without"
                        " unpersist_handle: the returned labels are"
                        " single-use-per-materialization — if their"
                        " cache is later dropped (manual unpersist,"
                        " executor loss) recomputation fails with a"
                        " missing-checkpoint-block error. Pass an"
                        " UnpersistHandle to keep the result"
                        " recomputable until you are done with it, or"
                        " warn_single_use=False to accept the contract"
                        " silently.",
                        stacklevel=_warn_stacklevel,
                    )
                cycler.release()


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    unpersist_handle: Optional[UnpersistHandle] = None,
    warn_single_use: bool = True,
    _warn_stacklevel: int = 3,
) -> DataFrame:
    """Cluster assignment (``doc_id``, ``cluster_id``) for every document
    appearing in a near-duplicate pair list; ``cluster_id`` is the
    smallest doc id in the component, so "keep the representative" is
    ``WHERE doc_id = cluster_id`` and "drop the rest" is the negation.

    No-handle results inherit :func:`connected_components`' single-use
    contract (and its runtime warning; ``warn_single_use=False``
    accepts the contract silently)."""
    return connected_components(
        pairs,
        src=id_a,
        dst=id_b,
        max_iterations=max_iterations,
        unpersist_handle=unpersist_handle,
        warn_single_use=warn_single_use,
        _warn_stacklevel=_warn_stacklevel,
    ).select(F.col("id").alias("doc_id"), "cluster_id")


# ---------------------------------------------------------------------------
# paragraph-level corpus dedup (CCNet-style)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_repeat: int = 2,
    normalized: bool = True,
    keep_first: bool = False,
) -> DataFrame:
    """Remove paragraphs duplicated across the corpus (CCNet-style
    boilerplate removal), preserving within-document paragraph order.

    A *paragraph* is a ``sep``-delimited span of ``text_col``.  Any
    paragraph whose (normalized) content occurs ``min_repeat``-or-more
    times corpus-wide is removed from every document — or, with
    ``keep_first=True``, from every document except its first occurrence
    (smallest ``(id, position)``).  Paragraphs that normalize to the
    empty string are never counted or removed.

    Returns ``(id, text, n_paragraphs, n_removed)`` where ``text`` is
    the surviving paragraphs re-joined with ``sep``.  NULL-text
    documents pass through with NULL text and zero counts (``split``
    of NULL emits no paragraphs — without the spine join they would
    vanish from the output entirely).

    Scale design (100 TB): ``posexplode`` is shuffle-free; the
    frequency table has one row per *distinct* paragraph (map-side
    combined aggregate), so the count join matches each posting to
    exactly one row — no fan-out, no cap needed.  Reassembly sorts
    within each document via ``array_sort`` on collected
    ``(pos, para)`` structs, so the result is independent of
    partitioning and shuffle order.  Four keyed exchanges total
    (paragraph hash ×2, document id ×1, plus the id-only spine for
    NULL-text pass-through), no driver materialization.
    """
    para_raw = F.col("__para")
    norm = normalize_text(para_raw) if normalized else para_raw
    key = F.when(F.trim(norm) != "", F.md5(norm))
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("__pos", "__para"),
    ).withColumn("__key", key)

    counts = (
        paras.where(F.col("__key").isNotNull())
        .groupBy("__key")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first"),
        )
    )
    flagged = paras.join(counts, "__key", "left")
    removed = F.col("__key").isNotNull() & (F.col("__n") >= min_repeat)
    if keep_first:
        removed = removed & ~(
            (F.col("__first")[id_col] == F.col(id_col))
            & (F.col("__first.__pos") == F.col("__pos"))
        )
    kept_struct = F.when(~F.coalesce(removed, F.lit(False)),
                         F.struct(F.col("__pos"), F.col("__para")))
    per_doc = (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["__para"]
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sum(F.coalesce(removed, F.lit(False)).cast("long")).alias("n_removed"),
        )
    )
    # spine join: split(NULL) explodes to nothing, so NULL-text docs
    # have no per_doc row — they pass through with zero counts instead
    # of silently disappearing
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            text_col,
            F.coalesce("n_paragraphs", F.lit(0).cast("long")).alias("n_paragraphs"),
            F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: Optional[DataFrame] = None,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = 1000,
    clusters: Optional[DataFrame] = None,
    unpersist_handle: Optional[UnpersistHandle] = None,
    warn_single_use: bool = True,
) -> DataFrame:
    """End-to-end near-dedup keeping the *best* document per duplicate
    cluster (highest ``quality_col``; ties go to the smallest id) —
    "keep the longest / highest-scoring copy" rather than
    :func:`near_dup_clusters`'s "keep the smallest id".

    ``pairs`` overrides the candidate generator (any ``(id_a, id_b)``
    frame — MinHash-LSH, SimHash, semantic); by default n-gram Jaccard
    pairs at ``threshold`` are computed from ``df`` itself.  Documents
    in no pair form singleton clusters and always survive.

    ``clusters`` supplies a PRECOMPUTED component assignment
    (``doc_id``, ``cluster_id`` — the output of
    :func:`near_dup_clusters`) and skips both the candidate generator
    and the label-propagation loop entirely: a pipeline that needs
    keep-best decisions AND leakage-safe splits over the same corpus
    runs connected components once and feeds both consumers, instead
    of paying the iterative loop twice.  When given, ``pairs`` /
    ``n`` / ``threshold`` / ``max_shingle_freq`` are ignored.

    Returns the surviving input rows plus ``cluster_id`` (smallest id
    in the component) and ``cluster_size``.  ``quality_col`` must be
    non-null and ``id_col`` numeric.  Every frame persisted along the
    way (shingle postings, cluster labels, the labeled corpus)
    registers on ``unpersist_handle`` — one call releases them all.

    Scale shape: the clustering is :func:`connected_components` (its
    scaling notes apply); everything after runs over the PAIRED-doc
    subset only — the cluster map covers exactly the docs appearing in
    a pair, so the per-cluster max-struct aggregate (map-side combined,
    no window sort) and the winner join-back are pair-subset-sized, and
    the untouched singletons rejoin via one anti-join whose corpus-side
    exchange is shared with the member join (identical subtrees).  The
    corpus is never shuffled by anything wider than its own id, and
    never aggregated corpus-wide.
    """
    if clusters is None:
        if pairs is None:
            pairs = ngram_jaccard_pairs(
                df, id_col, text_col, n=n, threshold=threshold,
                max_shingle_freq=max_shingle_freq,
                unpersist_handle=unpersist_handle,
            ).select("id_a", "id_b")
        clusters = near_dup_clusters(
            pairs, unpersist_handle=unpersist_handle,
            warn_single_use=warn_single_use, _warn_stacklevel=4,
        )
    clusters = clusters.withColumnRenamed("doc_id", id_col)
    # Only documents that appear in a PAIR can lose (round 13): the
    # cluster map covers exactly the paired docs, so the per-cluster
    # argmax and the winner join-back run over that (usually much
    # smaller) subset, and the untouched singletons rejoin by
    # anti-join — their own id as cluster_id, size 1, by definition.
    # The former corpus-wide formulation paid THREE corpus-sized
    # exchanges (corpus→clusters join, corpus-wide cluster aggregate,
    # corpus×best join-back); this one pays the corpus→clusters
    # shuffle once (the anti and inner branches are identical subtrees
    # — one exchange, read twice; broadcast regime: none at all) and
    # everything else is paired-subset-sized.  Values identical: the
    # coalesce'd singleton rows always satisfied the final join
    # (their cluster is {themselves}), winners are unchanged.
    member = df.join(clusters, id_col).persist()
    if unpersist_handle is not None:
        unpersist_handle.add_dataframe(member)
    best = member.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(
            F.struct(
                F.col(quality_col).alias("q"),
                (-F.col(id_col).cast("long")).alias("nid"),
            )
        ).alias("__b"),
    )
    best_ids = best.select(
        "cluster_id",
        (-F.col("__b.nid")).alias(id_col),
        "cluster_size",
    )
    winners = member.join(best_ids, ["cluster_id", id_col])
    singles = df.join(clusters.select(id_col), id_col, "left_anti").select(
        F.col(id_col).alias("cluster_id"),
        F.col(id_col),
        *[c for c in df.columns if c != id_col],
        F.lit(1).cast("long").alias("cluster_size"),
    )
    return winners.unionByName(singles.select(*winners.columns))


def leakage_safe_splits(
    df: DataFrame,
    weights,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: Optional[DataFrame] = None,
    n: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    out: str = "split",
    max_iterations: int = 50,
    clusters: Optional[DataFrame] = None,
    unpersist_handle: Optional[UnpersistHandle] = None,
    warn_single_use: bool = True,
) -> DataFrame:
    """Train/validation/test assignment that near-duplicates can never
    straddle: the frozen hash draw is keyed on the document's near-dup
    *cluster id*, not its own id, so every member of a duplicate cluster
    lands in the same split (the standard guard against train→test
    leakage through paraphrased or boilerplate-shifted copies).

    ``pairs`` is an (``id_a``, ``id_b``) near-duplicate edge list — pass
    one from :func:`ngram_jaccard_pairs`, :func:`minhash_lsh_pairs`, or
    an embedding-based generator; ``None`` derives n-gram Jaccard pairs
    from ``df`` with the given ``n``/``threshold``.

    ``clusters`` supplies a PRECOMPUTED component assignment
    (``doc_id``, ``cluster_id`` from :func:`near_dup_clusters`),
    skipping the candidate generator and the propagation loop — the
    share-one-CC hook for pipelines that also run
    :func:`dedup_keep_best` over the same corpus.

    Scale shape: the candidate generator is the bucketed inverted-index
    join (never all-pairs), the cluster assignment is the same
    min-label-propagation loop as :func:`near_dup_clusters`, and the
    split draw itself is a pure projection — singleton documents skip
    the join entirely via the ``COALESCE`` to their own id.  Output is
    ``df`` plus ``cluster_id`` and ``out`` columns."""
    from .sampling import assign_splits

    if clusters is None:
        if pairs is None:
            pairs = ngram_jaccard_pairs(
                df, id_col, text_col, n=n, threshold=threshold,
                unpersist_handle=unpersist_handle,
            ).select("id_a", "id_b")
        clusters = near_dup_clusters(
            pairs, max_iterations=max_iterations, unpersist_handle=unpersist_handle,
            warn_single_use=warn_single_use, _warn_stacklevel=4,
        )
    clusters = clusters.withColumnRenamed("doc_id", id_col)
    labeled = df.join(clusters, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    return assign_splits(labeled, weights, id_col="cluster_id", seed=seed, out=out)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-gram, slide a
    ``window`` over consecutive k-gram hashes, and keep the minimum of
    each window (rightmost on ties).  The selected (position, hash)
    set is a compact, position-aware sketch with a guarantee: any
    shared substring of at least ``window + k - 1`` tokens produces at
    least one shared fingerprint — substring-level copy detection that
    whole-document MinHash cannot give.

    Returns (``id``, ``pos``, ``hash``) — ``pos`` is the 0-based token
    index of the selected k-gram, ``hash`` its 31-bit k-gram hash.
    Joining two corpora's fingerprints on ``hash`` yields candidate
    plagiarism/overlap spans, each verifiable by comparing the k-grams
    at the recorded positions.

    Scale shape: tokenize + k-gram + hash is a pure projection; the
    sliding-window minimum is ONE trailing window per document (one
    hash-partition exchange on the id, no self-join); the (hash, -pos)
    tie-break is packed into a single int64 key so the windowed ``min``
    stays a primitive aggregate.  Documents with fewer than ``window``
    k-grams yield the minimum over what exists (≥ 1 fingerprint for
    any document with ≥ ``k`` tokens) — no document silently drops."""
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    # k-gram array from ONE lookahead-capture regex pass (the
    # transform+element_at index formulation re-runs the tokenizer per
    # element inside the lambda -- the ~50x trap shingles() documents);
    # posexplode keeps the 0-based gram position
    token = "[a-z0-9]+"
    pattern = "(?=(" + (token + " ") * (k - 1) + token + "))" + token
    gram_arr = F.regexp_extract_all(normalize_text(text_col), F.lit(pattern), F.lit(1))
    grams = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(gram_arr).alias("pos", "__g"),
    )
    # 31-bit gram hash; key packs (hash, -pos) into one int64 so a plain
    # windowed MIN implements "smallest hash, rightmost position on ties"
    h31 = (
        F.conv(F.substring(F.md5(F.col("__g")), 1, 8), 16, 10).cast("long")
        % F.lit(2147483648)
    )
    keyed = grams.select(
        "id",
        "pos",
        (h31 * F.lit(2147483648) + (F.lit(2147483647) - F.col("pos"))).alias("__key"),
    )
    w_min = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    w_doc = Window.partitionBy("id")
    windowed = keyed.select(
        "id",
        "pos",
        F.min("__key").over(w_min).alias("__m"),
        F.max("pos").over(w_doc).alias("__maxp"),
    )
    # full windows start at pos = window-1; short documents keep their
    # final (partial) window so every document retains >= 1 fingerprint
    selected = windowed.filter(
        (F.col("pos") >= F.lit(window - 1)) | (F.col("pos") == F.col("__maxp"))
    )
    return (
        selected.select(
            "id",
            (F.lit(2147483647) - (F.col("__m") % F.lit(2147483648))).alias("pos"),
            # integer unpack: a double division would round (keys use 62
            # bits, doubles carry 53)
            F.shiftright(F.col("__m"), 31).alias("hash"),
        )
        .distinct()
        .withColumnRenamed("id", id_col)
    )


def winnow_overlap_pairs(
    fp: DataFrame,
    fp_other: Optional[DataFrame] = None,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_hash_freq: Optional[int] = 1000,
) -> DataFrame:
    """Candidate copied-span pairs from :func:`winnow_fingerprints`
    output: documents sharing ``min_shared``-or-more winnowed
    fingerprints, with the containment-style score
    ``overlap = shared / min(size_a, size_b)``.  One call with a single
    fingerprint set finds within-corpus copies (``id_a < id_b``); pass
    ``fp_other`` to screen one corpus against another (benchmark
    contamination, licensed-text detection) — then ``id_a`` comes from
    ``fp`` and ``id_b`` from ``fp_other``, all pairs.

    Scale shape: the same inverted-index discipline as every candidate
    generator here — documents only meet through a shared fingerprint
    hash (equi-join), never all-pairs; ``max_hash_freq`` drops
    boilerplate fingerprints shared by more documents than the cap
    (stop-fingerprints) before the join, bounding fan-out.  Fingerprint
    sets are ~2/(window+1) of k-gram count per doc, so the postings are
    a small fraction of token volume."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    self_join = fp_other is None
    right_src = fp if self_join else fp_other

    left = fp.select(F.col(id_col).alias("id_a"), "hash").distinct()
    right = right_src.select(F.col(id_col).alias("id_b"), "hash").distinct()

    if max_hash_freq is not None:
        # stop-fingerprint frequency: per-document once — within one
        # corpus (self mode) or across both (cross mode)
        pool = left.select("hash") if self_join else left.select("hash").unionAll(
            right.select("hash")
        )
        freq = (
            pool.groupBy("hash")
            .agg(F.count(F.lit(1)).alias("__f"))
            .where(F.col("__f") <= max_hash_freq)
            .select("hash")
        )
        left = left.join(freq, "hash", "left_semi")
        right = right.join(freq, "hash", "left_semi")

    sizes_a = left.groupBy("id_a").agg(F.count(F.lit(1)).alias("size_a"))
    sizes_b = right.groupBy("id_b").agg(F.count(F.lit(1)).alias("size_b"))

    joined = left.join(right, "hash")
    if self_join:
        joined = joined.where(F.col("id_a") < F.col("id_b"))
    shared = joined.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared"))
    return (
        shared.where(F.col("shared") >= min_shared)
        .join(sizes_a, "id_a")
        .join(sizes_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared",
            "size_a",
            "size_b",
            (
                F.col("shared").cast("double")
                / F.least("size_a", "size_b").cast("double")
            ).alias("overlap"),
        )
    )


def duplicate_source_matrix(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    normalized: bool = True,
) -> DataFrame:
    """Cross-source exact-duplicate matrix: for every pair of sources,
    how many distinct contents appear in both — the standard audit for
    "which feeds are mirroring each other" before choosing dedup
    priorities.  Returns (``source_a``, ``source_b``, ``n_shared``)
    with ``source_a < source_b``.

    Scale shape: one hash projection → per-content sorted source SET
    (one aggregate keyed by content hash) → source pairs generated by
    array combination and exploded → pair count.  Per-content work is
    |sources-carrying-it|², bounded by the source count, never the
    copy count — a content duplicated 1M times in 2 sources contributes
    one pair.  The former self-equi-join form read the corpus and ran
    the normalize+md5 projection twice, once per join side (round-10
    REST census; ReuseExchange does not dedup self-join sides with
    different aliases) — the array form is one scan, one exchange, no
    join."""
    content = normalize_text(text_col) if normalized else F.col(text_col)
    srcs = (
        df.select(F.md5(content).alias("__h"), F.col(source_col).alias("__s"))
        .groupBy("__h")
        .agg(F.array_sort(F.collect_set("__s")).alias("__srcs"))
        .where(F.size("__srcs") >= 2)
    )
    # all ordered pairs (a < b) from the sorted per-content source set:
    # slice from i+2 (1-based) pairs each element with its successors
    arr = F.col("__srcs")
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    return (
        srcs.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.source_a"), F.col("__p.source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def dedup_report(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    normalized: bool = True,
) -> DataFrame:
    """Per-stratum duplication audit — the numbers a dedup decision is
    made from, measured before touching anything: (``stratum``,
    ``n_docs``, ``n_distinct``, ``n_dup_docs`` — docs whose content
    recurs *corpus-wide* (not just within the stratum), ``dup_frac``,
    ``n_cross_dup_docs`` — docs whose content also appears in some
    OTHER stratum).  High ``dup_frac`` with low cross-dup means
    in-feed boilerplate (dedup within the feed); high cross-dup means
    mirrored feeds (pick a priority order first — see
    :func:`duplicate_source_matrix` for which pairs mirror).

    One hash projection, one (content, stratum) count aggregate with
    the content-level stats attached as hash-keyed WINDOWS over that
    aggregate's own output — shuffle keyed by content hash, never
    wider, and the normalize+md5 projection runs exactly once (the
    former content-level aggregate joined back made the count frame
    its own second consumer and re-hashed the corpus; round-10 REST
    census: 2 scans → 1)."""
    content = normalize_text(text_col) if normalized else F.col(text_col)
    hashed = df.select(
        F.md5(content).alias("__h"), F.col(strata_col).alias("stratum")
    )
    per_hs = hashed.groupBy("__h", "stratum").agg(
        F.count(F.lit(1)).alias("__n")
    )
    wh = Window.partitionBy("__h")
    joined = per_hs.withColumn("__total", F.sum("__n").over(wh)).withColumn(
        "__n_strata", F.count(F.lit(1)).over(wh)
    )
    return (
        joined.groupBy("stratum")
        .agg(
            F.sum("__n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.when(F.col("__total") > 1, F.col("__n")).otherwise(0)).alias(
                "n_dup_docs"
            ),
            F.sum(F.when(F.col("__n_strata") > 1, F.col("__n")).otherwise(0)).alias(
                "n_cross_dup_docs"
            ),
        )
        .select(
            "stratum",
            "n_docs",
            "n_distinct",
            "n_dup_docs",
            (F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double")).alias(
                "dup_frac"
            ),
            "n_cross_dup_docs",
        )
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """All pairs with exact n-gram Jaccard ≥ ``threshold`` via *prefix
    filtering* (the PPJoin family) — same output contract as
    :func:`ngram_jaccard_pairs` (``id_a, id_b, common, size_a, size_b,
    jaccard``), different candidate generator with a provable
    no-recall-loss guarantee.

    Prefix filter: order every document's shingles by one GLOBAL total
    order (document frequency ascending, shingle ascending — rarest
    first) and keep only the first ``|d| − ⌈t·|d|⌉ + 1`` as its
    *prefix*.  Two documents with Jaccard ≥ t must share at least one
    prefix shingle (if all shared shingles sat outside both prefixes,
    the overlap would be too small to reach t), so joining on prefix
    shingles alone finds every qualifying pair — unlike
    ``max_shingle_freq`` stop-shingle capping, which trades recall for
    skew safety.  Because prefixes are built from the *rarest*
    shingles, the join's postings lists are short by construction:
    the boilerplate shingle shared by a million documents never enters
    anyone's prefix at realistic thresholds — this is the skew guard,
    derived instead of imposed.

    Two further lossless PPJoin filters run on the candidate pairs
    BEFORE verification: the *length filter*
    (``min(|a|,|b|) ≥ t·max(|a|,|b|)`` — necessary for Jaccard ≥ t)
    and the *positional filter* (the pair's best remaining-window
    bound ``max over matched prefix shingles of min(|a|−i, |b|−j)+1``
    must reach ``minoverlap = ⌈t/(1+t)·(|a|+|b|)⌉``; the minimal
    common shingle of any qualifying pair provably sits inside both
    prefixes, so the bound is valid).  Survivors are verified exactly
    against the full shingle sets (``array_intersect`` on
    per-document arrays — per-candidate work is O(doc shingles),
    never a second corpus join).  Every ⌈·⌉ is computed as
    ``ceil(x − 1e-9)``: if FP noise ever tips it, it tips toward a
    longer prefix / a kept candidate — more verification work, never
    lost recall, so exactness survives float rounding.

    Shuffles: doc-frequency aggregate + one per-document rank window +
    prefix self-join + two set joins; the full-postings self-join of
    the inverted-index formulation is gone.  The shingle frame is
    persisted (it feeds the frequency, prefix, and verification
    branches); pass an ``unpersist_handle`` to release it.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = shingles(df, id_col, text_col, n).persist()
    if unpersist_handle is not None:
        unpersist_handle.add_dataframe(sh)
    # document frequency rides as a window on the shingle frame itself
    # (one exchange keyed by shingle) instead of a separate aggregate
    # joined back — the join-back form gave the persisted shingle frame
    # an extra consumer, which AQE's parallel branch materialization
    # races (see ngram_jaccard_pairs)
    w = Window.partitionBy(id_col).orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    wn = Window.partitionBy(id_col)
    ranked = sh.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).select(
        F.col(id_col),
        "shingle",
        F.row_number().over(w).alias("__pos"),
        F.count(F.lit(1)).over(wn).alias("__size"),
    )
    plen = (
        F.col("__size")
        - F.ceil(F.lit(float(threshold)) * F.col("__size") - F.lit(1e-9))
        + F.lit(1)
    )
    prefix = ranked.where(F.col("__pos") <= plen).select(
        F.col(id_col), "shingle", "__pos", "__size"
    )
    pa = prefix.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("__pos").alias("__pa"),
        F.col("__size").alias("__sa"),
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"),
        "shingle",
        F.col("__pos").alias("__pb"),
        F.col("__size").alias("__sb"),
    )
    t = float(threshold)
    # PPJoin positional filter (lossless): for a shared shingle at
    # 1-based positions (i, j), the remaining-window bound is
    # min(|a|-i, |b|-j) + 1.  All common shingles sort at-or-after the
    # pair's MINIMAL common shingle s* in the global order, so
    # overlap <= min(|a|-i*, |b|-j*) + 1 — and for any qualifying pair
    # s* provably lies inside BOTH prefixes (minoverlap >= ceil(t·|d|)
    # once the length filter holds), so the MAX of the per-occurrence
    # bounds over the pair's matched prefix shingles upper-bounds the
    # true overlap.  Pairs whose best bound can't reach
    # minoverlap = ceil(t/(1+t)·(|a|+|b|)) are dropped BEFORE the
    # expensive exact verification; the 1e-9 tilts the ceil toward
    # keeping, so exactness survives float rounding.  The length
    # filter min >= t·max is the same necessary condition.  The
    # groupBy replaces the former .distinct() — identical shuffle key,
    # three small agg columns extra.
    ub = F.least(F.col("__sa") - F.col("__pa"), F.col("__sb") - F.col("__pb")) + F.lit(1)
    # Both filters apply PER JOIN ROW, before the pair aggregate
    # (round 13): the sizes are constant within a pair, so the length
    # filter is row-invariant, and "max over matched occurrences of ub
    # >= minoverlap" holds iff SOME row's ub does — dropping sub-bound
    # rows can never change the surviving pair set.  The former
    # groupBy-then-filter carried three aggregate columns and shuffled
    # every raw prefix match into the pair exchange (measured ~10x the
    # filtered row count at the gate shape); filtering first shrinks
    # the exchange to qualifying occurrences and the aggregate
    # collapses back to a bare distinct.
    cand = (
        pa.join(pb, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("__sa", "__sb").cast("double")
                >= F.lit(t) * F.greatest("__sa", "__sb").cast("double") - F.lit(1e-9)
            )
            & (
                ub
                >= F.ceil(
                    F.lit(t / (1.0 + t))
                    * (F.col("__sa") + F.col("__sb")).cast("double")
                    - F.lit(1e-9)
                )
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = sh.groupBy(id_col).agg(
        F.collect_list("shingle").alias("__toks"),
        F.count(F.lit(1)).cast("long").alias("__size"),
    )
    a = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("__toks").alias("__ta"),
        F.col("__size").alias("size_a"),
    )
    b = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("__toks").alias("__tb"),
        F.col("__size").alias("size_b"),
    )
    # Spread the CANDIDATE PAIR frame across the session's shuffle
    # partition count before the set joins: candidates are BYTES-small
    # (119k pairs ≈ 6 MB at sf0.1) but each verification row costs an
    # O(|d|) array_intersect, and AQE's byte-driven coalescing is blind
    # to per-row CPU — measured 14.8 s of exact verification bottled
    # into 5 tasks.  The spread must sit BELOW the set joins: Catalyst
    # pushes the jaccard threshold filter (which contains the
    # intersect) down into the topmost join's condition, so a
    # repartition placed on the JOINED output spreads only the few
    # post-filter survivors while the intersect still evaluates in the
    # AQE-coalesced candidate stage (the round-9 review caught exactly
    # that defeated form).  With the candidate frame repartitioned and
    # the set sides broadcast — the planner's own choice whenever the
    # collected-shingle frames fit the auto-broadcast threshold, as
    # verified on the live sf0.1 plan; NOT forced here, because the
    # sets frame is corpus-sized and a forced broadcast would OOM at
    # scale — the intersect-bearing join executes in the spread stage.
    # In the shuffle-join regime (the accepted fallback above the
    # threshold) the join's exchange carries the token arrays, so AQE's
    # byte-sizing is roughly proportional to per-row intersect CPU —
    # unlike the bare-pair stage the explicit spread protects.  An
    # explicit-count repartition is exempt from AQE coalescing; the
    # price is one extra exchange of bare id pairs, the smallest data
    # in the pipeline (prefix filtering exists to keep candidates <<
    # corpus).
    n_part = session_shuffle_partitions(df.sparkSession)
    joined = cand.repartition(n_part).join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("long")
    jac = inter.cast("double") / (
        F.col("size_a") + F.col("size_b") - inter
    )
    return (
        joined.select(
            "id_a",
            "id_b",
            inter.alias("common"),
            "size_a",
            "size_b",
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
    )
