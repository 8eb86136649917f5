"""Similarity search over embedding columns (``array<float>``).

Three strategies:

* :func:`brute_force_topk` — exact cosine top-k.  The query set is
  collected to the driver (it must be small — the same constraint the
  broadcast-join formulation has) and shipped inside the kernel
  closure; the corpus is then scanned ONCE with no join and no shuffle
  of vectors: each Arrow batch computes a (batch × queries) cosine
  matrix in one BLAS matmul and emits only its per-query top-k id/score
  rows, so the final global rank window sees at most
  k × #batches × #queries tiny rows.
* :func:`rp_lsh_topk` / :func:`embedding_near_dup_pairs` — the scale
  path: sign-random-projection LSH.  Each vector hashes to a bit-string
  bucket from deterministic ±1 hyperplanes (seeded, engine-portable);
  candidates meet through an equi-join on the bucket (shuffle keyed by
  bucket, never a cross join), then exact cosine verifies.  Multi-probe
  (flipping each bit) trades recall for candidate count.
* :func:`ivf_topk` — inverted-file search: corpus vectors bucket by
  nearest coarse centroid; queries probe their ``n_probes`` nearest
  cells and score only vectors inside them.

All exact scoring runs in numpy kernels over Arrow batches
(``mapInArrow``): Spark evaluates higher-order array lambdas
(``aggregate``/``zip_with``) *interpreted*, outside whole-stage codegen,
so a column-algebra cosine costs ~dim interpreted evals per row while
the numpy path is one vectorized ``einsum``/matmul per batch (measured
~4× end-to-end on the sf0.1 gate queries).  Every kernel reads its
vector column through :func:`_vectors` (one reshape of the flattened
Arrow list, no per-row conversion) and builds its outputs as Arrow
arrays, nulls included, with no pandas frame in between.  The column
formulation is kept as :func:`cosine_similarity` for composition into
pure-SQL plans.

At 100 TB the brute-force variant is a single scan with no shuffle of
the corpus at all; the LSH variant shuffles only (bucket, vector) pairs
and scores only colliding candidates, with ``max_bucket_size`` guarding
against degenerate-bucket B² blowups (boilerplate documents,
zero-vectors) the same way ``ngram_jaccard_pairs`` caps stop-shingles.
"""

from __future__ import annotations

import hashlib
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cosine_similarity",
    "cosine_scored_pairs",
    "brute_force_topk",
    "rp_planes",
    "rp_bucket",
    "rp_lsh_topk",
    "cap_drop_stats",
    "embedding_near_dup_pairs",
    "project_embeddings",
    "quantize_embeddings",
    "ivf_assignments",
    "ivf_centroids",
    "fit_centroids",
    "ivf_topk",
    "semantic_near_dup_pairs",
    "semantic_dedup",
    "group_centroids",
    "embedding_stats",
    "semantic_decontam_flags",
    "semantic_decontaminate",
]


def _vectors(col):
    """``(matrix, valid)`` for an ``array<float|double>`` Arrow column:
    the float64 matrix of its non-null rows and the row validity mask.

    A null element reads as NaN, which each kernel's arithmetic carries
    to a null or dropped result.  The rows of one batch must share a
    length: reshaping ragged rows would misalign every later row, so
    they raise instead."""
    import numpy as np

    lengths = col.value_lengths().drop_null().to_numpy()
    dim = int(lengths[0]) if len(lengths) else 0
    if (lengths != dim).any():
        raise ValueError(
            f"vectors in one batch have inconsistent dimensions "
            f"{sorted(set(lengths.tolist()))}; embeddings must share one dim"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(lengths), dim), col.is_valid().to_numpy(zero_copy_only=False)


def _fold_sq_norms(M):
    """Row norms as a left-to-right fold of the squares (NOT
    ``np.linalg.norm``, whose pairwise summation a SQL ``list_reduce``
    replay can't reproduce)."""
    import numpy as np

    sq = M * M
    acc = sq[:, 0].copy()
    for j in range(1, M.shape[1]):
        acc = acc + sq[:, j]
    return np.sqrt(acc)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two ``array`` columns — computed in double precision,
    left-to-right (deterministic, engine-portable).

    Column-algebra formulation: composes into any plan, but Spark
    evaluates the lambdas interpreted — for bulk scoring prefer
    :func:`cosine_scored_pairs` (Arrow/numpy, ~4× faster end-to-end)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_a = F.sqrt(F.aggregate(da, F.lit(0.0), lambda acc, x: acc + x * x))
    norm_b = F.sqrt(F.aggregate(db, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((norm_a > 0) & (norm_b > 0), dot / (norm_a * norm_b)).otherwise(F.lit(None))


def cosine_scored_pairs(
    df: DataFrame,
    a_col: str,
    b_col: str,
    keep_cols: Sequence[str],
    out_col: str = "cosine",
) -> DataFrame:
    """Exact cosine for candidate pairs: emits ``keep_cols + [out_col]``.

    One Arrow-batched numpy kernel (row-wise ``einsum`` + norms) instead
    of the interpreted higher-order fold — the hot path of every
    LSH/IVF verification stage.  Null vectors and zero norms yield a
    null cosine, matching :func:`cosine_similarity` (a true SQL NULL,
    not NaN — Spark orders NaN *above* all numbers, so a NaN here would
    corrupt ``>= threshold`` filters and descending ranks)."""
    import numpy as np

    keep = list(keep_cols)
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.select(*keep).schema.fields
    )
    out_schema = f"{fields}, `{out_col}` double"
    a_name, b_name = a_col, b_col

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            A, a_ok = _vectors(batch.column(a_name))
            B, b_ok = _vectors(batch.column(b_name))
            ok = a_ok & b_ok
            cos = np.full(batch.num_rows, np.nan)
            if ok.any():
                A, B = A[ok[a_ok]], B[ok[b_ok]]
                dot = np.einsum("ij,ij->i", A, B)
                denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos[ok] = np.where(denom > 0, dot / denom, np.nan)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep] + [pa.array(cos, mask=np.isnan(cos))],
                names=keep + [out_col],
            )

    return df.mapInArrow(kernel, out_schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbours per query vector.

    Returns (query_id, vec_id, cosine, rank); self-matches (same id)
    are excluded.  Ties rank deterministically by neighbour id.

    Execution shape: queries are collected to the driver (they must be
    small/bounded — the same constraint a broadcast join has) and the
    corpus is scanned once; each Arrow batch scores all queries in one
    normalized matmul and pre-selects its local top-k per query under
    the exact final ordering (cosine desc, id asc), which is lossless:
    a row outside a batch's top-k is dominated by ≥k rows and can never
    enter the global top-k.  Only k × #queries rows per batch survive
    to the rank window — no shuffle of vectors, ever.  Corpus rows with
    null or zero-norm vectors score null in the column formulation and
    are equivalently dropped here; null and zero-norm QUERY vectors are
    dropped the same way (cosine is undefined for them — they get no
    result rows rather than a fabricated all-zeros ranking).
    """
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_type

    # null query vectors can never score: drop them up front (mirrors the
    # corpus-side handling) instead of crashing np.stack below
    qrows = queries.select(id_col, vec_col).where(F.col(vec_col).isNotNull()).collect()
    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = queries.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{query_id_col}` {qid_type}, `{id_col}` {id_type}, `cosine` double"
    )
    if not qrows:
        empty = corpus.sparkSession.createDataFrame([], out_schema)
        return empty.withColumn("rank", F.lit(1).cast("int")).where(F.lit(False))

    dims = {len(r[1]) for r in qrows}
    if len(dims) > 1:
        offender = next(r[0] for r in qrows if len(r[1]) != len(qrows[0][1]))
        raise ValueError(
            f"query vectors have inconsistent dimensions {sorted(dims)} "
            f"(e.g. {id_col}={offender!r}); embeddings must share one dim"
        )
    qids = np.asarray([r[0] for r in qrows])
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorms = np.linalg.norm(Q, axis=1)
    # zero-norm queries can never score (cosine undefined) — drop them
    # like null queries, instead of scoring the whole corpus at 0.0 and
    # fabricating a "top-k" of the k lowest-id rows
    nz = qnorms > 0
    if not nz.all():
        qids, Q, qnorms = qids[nz], Q[nz], qnorms[nz]
    if len(qids) == 0:
        empty = corpus.sparkSession.createDataFrame([], out_schema)
        return empty.withColumn("rank", F.lit(1).cast("int")).where(F.lit(False))
    Qu = (Q / qnorms[:, None]).T  # (dim, q)
    qid_arrow = to_arrow_type(queries.schema[id_col].dataType)
    kk, id_name, vec_name, qid_name = k, id_col, vec_col, query_id_col

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            V, ok = _vectors(batch.column(vec_name))
            vnorms = np.linalg.norm(V, axis=1)
            valid = vnorms > 0
            if not valid.any():
                continue
            V, vnorms = V[valid], vnorms[valid]
            scored_ids = batch.column(id_name).take(np.flatnonzero(ok)[valid])
            ids = scored_ids.to_numpy(zero_copy_only=False)
            scores = (V / vnorms[:, None]) @ Qu  # (n, q)
            # self-match exclusion: mask to -inf, filtered after selection
            scores = np.where(ids[:, None] == qids[None, :], -np.inf, scores)
            out_q, out_row = [], []
            for j in range(scores.shape[1]):
                col = scores[:, j]
                # exact final ordering (cosine desc, id asc) => lossless truncation
                top = np.lexsort((ids, -col))[: min(kk, len(col))]
                top = top[col[top] > -np.inf]
                out_q.append(np.full(len(top), j))
                out_row.append(top)
            out_q, out_row = np.concatenate(out_q), np.concatenate(out_row)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[out_q], type=qid_arrow),
                    scored_ids.take(out_row),
                    pa.array(scores[out_row, out_q]),
                ],
                names=[qid_name, id_name, "cosine"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(kernel, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# sign-random-projection LSH
# ---------------------------------------------------------------------------


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first non-null vector — with a
    clear error for an empty/all-null column instead of the opaque
    ``TypeError: 'NoneType'`` that ``head()[0]`` raises."""
    row = df.select(vec_col).where(F.col(vec_col).isNotNull()).head()
    if row is None:
        raise ValueError(
            f"cannot infer embedding dim: no non-null {vec_col!r} rows "
            f"(empty input?); pass dim= explicitly"
        )
    return len(row[0])


def rp_planes(num_planes: int, dim: int, seed: int = 42) -> List[List[int]]:
    """Deterministic ±1 hyperplanes from md5 — reproducible anywhere."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            digest = hashlib.md5(f"rp_{seed}_{p}_{d}".encode()).digest()
            row.append(1 if digest[0] % 2 == 0 else -1)
        planes.append(row)
    return planes


def rp_bucket(vec: Column, planes: List[List[int]]) -> Column:
    """Bit-string bucket id: sign of the projection onto each plane."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    F.transform(vec, lambda x: x.cast("double")),
                    F.array(*[F.lit(float(w)) for w in row]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            "1",
        ).otherwise("0")
        for row in planes
    ]
    return F.concat(*bits)


def _bucket_column(df: DataFrame, vec_col: str, planes: List[List[int]]) -> DataFrame:
    """Attach ``__bucket`` (the sign bit-string) via one Arrow/numpy
    matmul per batch.

    The column-algebra :func:`rp_bucket` is an interpreted fold of
    #planes × dim multiply-adds per row, and — because Catalyst does no
    common-subexpression elimination inside lambda bodies — every probe
    variant derived from that *expression* would re-evaluate the whole
    fold.  Materializing the bucket as a real column makes the probe
    variants plain substring ops on a #planes-char string."""
    import numpy as np

    plane_matrix = np.asarray(planes, dtype=np.float64).T  # (dim, p)
    vec_name = vec_col
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema = f"{fields}, __bucket string"

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            V, ok = _vectors(batch.column(vec_name))
            buckets = np.full(batch.num_rows, None, dtype=object)
            if ok.any():
                bits = np.where((V @ plane_matrix) > 0, "1", "0")  # (n, p)
                buckets[ok] = ["".join(row) for row in bits]
            # null vector -> null bucket (drops in join)
            yield batch.append_column("__bucket", pa.array(buckets, pa.string()))

    return df.mapInArrow(kernel, out_schema)


def _with_buckets(
    df: DataFrame, vec_col: str, planes: List[List[int]], probes: int
) -> DataFrame:
    """Attach one row per probed bucket.  probes=0: exact bucket only;
    probes=k adds every neighbour bucket within Hamming distance k of
    the exact one (all 1-bit flips, 2-bit flips, … up to k-bit).  The
    fan-out is Σ_{j<=k} C(num_planes, j) rows per input row — intended
    for the (small) query side."""
    import itertools

    if probes < 0:
        raise ValueError(f"probes must be >= 0, got {probes}")
    bucketed = _bucket_column(df, vec_col, planes)
    if probes == 0:
        return bucketed
    num = len(planes)
    bucket = F.col("__bucket")

    def flipped(positions) -> Column:
        # rebuild the bit string with the given 0-based positions flipped
        pieces = []
        prev = 0
        for i in positions:
            if i > prev:
                pieces.append(F.substring(bucket, prev + 1, i - prev))
            pieces.append(
                F.when(F.substring(bucket, i + 1, 1) == "1", "0").otherwise("1")
            )
            prev = i + 1
        if prev < num:
            pieces.append(F.substring(bucket, prev + 1, num - prev))
        return F.concat(*pieces)

    variants = [bucket]
    for j in range(1, min(probes, num) + 1):
        variants += [flipped(c) for c in itertools.combinations(range(num), j)]
    return bucketed.withColumn("__bucket", F.explode(F.array(*variants)))


def _cap_buckets(df: DataFrame, bucket_col: str, cap: Optional[int]) -> DataFrame:
    """Drop rows in buckets with more than ``cap`` members — the LSH
    skew guard: a degenerate bucket of B members (boilerplate text,
    zero-vectors, a bad hash) otherwise yields B² candidates in the
    self-join.  The count window partitions by the bucket — the same
    key the following join shuffles on, so Catalyst reuses the exchange
    and the guard costs no extra shuffle of the postings.

    The cap trades recall for a blowup bound; :func:`cap_drop_stats`
    reports what a given cap would exclude (operators expose it via
    ``with_drop_stats=True``) — the loss is observable, never silent.

    (An ``Observation`` cannot provide this: the capped frame feeds both
    sides of the near-dup self-joins, duplicating the CollectMetrics
    node, and AQE's empty-relation propagation deletes the node outright
    when a cap drops everything — precisely the case that most needs the
    signal.)"""
    if cap is None:
        return df
    n = F.count(F.lit(1)).over(Window.partitionBy(bucket_col))
    return df.withColumn("__bucket_n", n).where(F.col("__bucket_n") <= cap).drop("__bucket_n")


def cap_drop_stats(df: DataFrame, bucket_col: str, cap: Optional[int]) -> DataFrame:
    """One-row accounting of what :func:`_cap_buckets` excludes at
    ``cap``: ``(input_rows, dropped_rows, dropped_buckets)``.

    A deliberate separate (cheap) aggregate job — two map-side-combined
    aggregations keyed by bucket, shuffling one long per distinct
    bucket — rather than metrics piggybacked on the main query, so the
    numbers exist even when the cap drops every row."""
    sizes = df.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("__n"))
    over = F.col("__n") > F.lit(cap if cap is not None else None)
    return sizes.agg(
        F.sum("__n").cast("long").alias("input_rows"),
        F.coalesce(F.sum(F.when(over, F.col("__n"))), F.lit(0)).cast("long").alias("dropped_rows"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).cast("long").alias("dropped_buckets"),
    )


def _derive_num_planes(n_rows: int) -> int:
    """``planes = ⌈log₂ N⌉ + 1`` (≥ 4): ``2^planes ≈ 2N`` buckets pins
    the expected bucket occupancy — and therefore per-query candidate
    counts — at a constant regardless of corpus size.  A FIXED plane
    count that reads fine at gate scale silently turns K-linear at K×
    the data (the round-11 weak-scaling census measured exactly this:
    candidates flat 1x→10x under ``12 + ⌈log₂K⌉`` at the 2000-row base
    corpus, which this closed form reproduces: N=2000→12, N=6000→14,
    N=20000→16)."""
    import math

    return max(4, math.ceil(math.log2(max(2, int(n_rows)))) + 1)


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: Optional[int] = None,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: Optional[int] = None,
    seed: int = 42,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k: candidates from (multi-probe) bucket collisions,
    exact cosine on candidates only (Arrow/numpy kernel).

    ``num_planes=None`` (default) self-tunes to corpus size as
    ``⌈log₂ N⌉ + 1`` (:func:`_derive_num_planes` — the knob the
    weak-scaling census says MUST track N, now wired so the default
    path stays ~flat 1x→10x with no manual knob).  N comes from
    ``n_rows`` when the caller already knows it, else from one count
    job at construction time — pass ``num_planes`` or ``n_rows``
    explicitly to keep construction fully lazy / plans reproducible."""
    dim = dim if dim is not None else _infer_dim(corpus, vec_col)
    if num_planes is None:
        num_planes = _derive_num_planes(
            n_rows if n_rows is not None else corpus.count()
        )
    planes = rp_planes(num_planes, dim, seed)

    # project BEFORE the Arrow bucket kernel: mapInArrow blocks column
    # pruning, so an unprojected corpus would serialize every payload
    # column through Python per batch just to compute __bucket (and a
    # corpus that already carries a query_id-named column would make
    # the post-join select ambiguous)
    c = _with_buckets(corpus.select(id_col, vec_col), vec_col, planes, probes=0)
    q = _with_buckets(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
        ),
        "__qvec",
        planes,
        probes=probes,
    )
    candidates = (
        c.join(q, "__bucket")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "__qvec", vec_col)
        .distinct()
    )
    scored = cosine_scored_pairs(candidates, "__qvec", vec_col, [query_id_col, id_col])
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    num_planes: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    seed: int = 42,
    max_bucket_size: Optional[int] = 10_000,
    with_drop_stats: bool = False,
    n_rows: Optional[int] = None,
):
    """Vector pairs with cosine ≥ threshold, via exact-bucket LSH
    collision + exact verification.  Near-identical directions land in
    identical buckets, so recall at thresholds ≈1 is high.

    ``num_planes=None`` (default) self-tunes to corpus size as
    ``⌈log₂ N⌉ + 1`` (:func:`_derive_num_planes` — constant bucket
    occupancy, so the self-join stays linear as the corpus grows); N
    comes from ``n_rows`` or one construction-time count — pass
    ``num_planes`` / ``n_rows`` to keep construction fully lazy.

    ``max_bucket_size`` drops degenerate buckets before the self-join
    (see :func:`_cap_buckets`); ``None`` disables the guard.  With
    ``with_drop_stats=True`` returns ``(pairs, stats)`` where ``stats``
    is the one-row :func:`cap_drop_stats` frame accounting for the
    recall the cap costs — check it whenever a cap is in play."""
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    if num_planes is None:
        num_planes = _derive_num_planes(
            n_rows if n_rows is not None else df.count()
        )
    planes = rp_planes(num_planes, dim, seed)
    # project before the Arrow kernel — see rp_lsh_topk
    raw = _with_buckets(df.select(id_col, vec_col), vec_col, planes, probes=0)
    bucketed = _cap_buckets(raw, "__bucket", max_bucket_size)

    left = bucketed.select(
        F.col("__bucket"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("__vec_a")
    )
    right = bucketed.select(
        F.col("__bucket"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vec_b")
    )
    pairs = left.join(right, "__bucket").where(F.col("id_a") < F.col("id_b"))
    result = (
        cosine_scored_pairs(pairs, "__vec_a", "__vec_b", ["id_a", "id_b"])
        .where(F.col("cosine") >= threshold)
        .distinct()
    )
    if with_drop_stats:
        return result, cap_drop_stats(raw, "__bucket", max_bucket_size)
    return result


def project_embeddings(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    seed: int = 42,
    out_col: str = None,
) -> DataFrame:
    """Random-projection dimensionality reduction: multiply each vector
    by a deterministic ±1 plane matrix (the :func:`rp_planes` family)
    scaled by ``1/√out_dim`` — the Achlioptas/JL construction, so
    pairwise distances are preserved in expectation and a 1024-dim
    corpus can run ANN/clustering at 64 dims for ~16× less compute and
    shuffle volume.

    Arrow-batched kernel; the reduction over input dims runs as a
    fixed left-to-right loop of vectorized fused adds, NOT one matmul —
    float addition is not associative, and the fixed order makes the
    output bit-identical across batch sizes, partitionings, and a
    sequential-fold SQL oracle (a BLAS matmul's pairwise summation is
    none of those).  64 vectorized adds per batch ≈ matmul speed for
    the dims that matter here."""
    import numpy as np

    if out_dim <= 0:
        raise ValueError(f"out_dim must be positive, got {out_dim}")
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    planes = np.asarray(rp_planes(out_dim, dim, seed), dtype=np.float64).T  # (dim, out)
    scale = 1.0 / float(np.sqrt(out_dim))
    vec_name, out_name = vec_col, out_col or vec_col

    kept = [f for f in df.schema.fields if f.name != out_name]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in kept]
        + [f"`{out_name}` array<double>"]
    )
    keep = [f.name for f in kept]

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            V, ok = _vectors(batch.column(vec_name))
            acc = np.zeros((len(V), planes.shape[1]), dtype=np.float64)
            if ok.any():
                for d in range(planes.shape[0]):  # fixed-order fold over input dims
                    acc += V[:, d, None] * planes[d]
                acc *= scale
            # null input vectors project to null (row-preserving, like the
            # quantize transform); a NaN component becomes a null element
            offsets = np.concatenate([[0], np.cumsum(ok * planes.shape[1])])
            projected = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(acc.ravel(), from_pandas=True),
                mask=pa.array(~ok),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep] + [projected], names=keep + [out_name]
            )

    return df.mapInArrow(kernel, out_schema)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    levels: int = 256,
    out_col: str = "embedding_q",
) -> DataFrame:
    """Scalar (per-dimension min-max) quantization of an embedding
    column to ``levels`` integer codes — 4× smaller than float32 at
    ``levels=256``, which at 100 TB of embeddings is the difference
    between a corpus that fits the cluster's storage tier and one that
    doesn't.  Codes are ``round((v - min_d) / (max_d - min_d) *
    (levels-1))`` with per-dimension bounds computed over the whole
    input.

    Plan: per-dimension bounds via ``posexplode`` + one map-side-
    combined hash aggregate (shuffle = ``dim`` rows), re-packed to two
    array literals in a 1-row frame that broadcasts onto the input; the
    quantization itself is a pure JVM ``transform`` projection — no
    Python, no second shuffle, input scanned exactly twice (once for
    bounds, once to quantize — persist upstream if the source is
    recomputed).

    Arithmetic is elementwise (no reductions), so results are exact and
    independent of partitioning; a constant dimension (max == min)
    quantizes to 0.  Ties round half-up via ``floor(x + 0.5)`` to pin
    cross-engine reproducibility (banker's rounding differs by engine).

    Returns the input plus ``out_col`` (``array<int>``) — compose with
    :func:`ivf_assignments` / Hamming-style filters downstream.
    """
    if levels < 2:
        raise ValueError(f"levels must be >= 2, got {levels}")
    v = F.col(vec_col)
    dims = (
        df.select(F.posexplode(v).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    )
    bounds = dims.agg(
        F.array_sort(F.collect_list(F.struct("pos", "lo"))).alias("__los"),
        F.array_sort(F.collect_list(F.struct("pos", "hi"))).alias("__his"),
    ).select(
        # double arithmetic end-to-end: a float32 (hi - lo) would round
        # differently from the replaying engine's double subtraction
        F.transform("__los", lambda s: s["lo"].cast("double")).alias("__lo"),
        F.transform("__his", lambda s: s["hi"].cast("double")).alias("__hi"),
    )
    scale = float(levels - 1)
    quant = F.transform(
        v,
        lambda x, i: F.when(
            F.element_at("__hi", i + 1) == F.element_at("__lo", i + 1), F.lit(0)
        ).otherwise(
            F.floor(
                (x.cast("double") - F.element_at("__lo", i + 1))
                / (F.element_at("__hi", i + 1) - F.element_at("__lo", i + 1))
                * F.lit(scale)
                + F.lit(0.5)
            ).cast("int")
        ),
    )
    return df.crossJoin(F.broadcast(bounds)).withColumn(out_col, quant).drop("__lo", "__hi")


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate search
# ---------------------------------------------------------------------------


def ivf_assignments(
    df: DataFrame,
    centroids: List[List[float]],
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Attach ``__cell`` — the index of the nearest centroid (or the
    ``n_probes`` nearest, exploded).

    Computed in one Arrow-batched kernel as a normalized matrix multiply
    (vectors × centroidsᵀ): Spark's higher-order array functions are
    *interpreted* (no whole-stage codegen inside lambdas), so k
    per-centroid fold expressions cost k×dim interpreted evals per row,
    while the numpy path is one BLAS call per batch.  Ties break on
    centroid index (argsort is stable over -scores)."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    if cents.ndim != 2 or cents.shape[0] == 0:
        raise ValueError(
            f"centroids must be a non-empty list of equal-length vectors, "
            f"got shape {cents.shape}"
        )
    norms = np.linalg.norm(cents, axis=1)
    norms[norms == 0] = 1.0
    cents_unit = (cents / norms[:, None]).T  # (dim, k)
    probes = n_probes
    vec_name = vec_col

    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema = f"{fields}, __cell int"

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            # NULL embeddings have no cell: drop them like the sibling
            # kernels do
            V, ok = _vectors(batch.column(vec_name))
            if not ok.any():
                continue
            vnorms = np.linalg.norm(V, axis=1)
            vnorms[vnorms == 0] = 1.0
            scores = (V / vnorms[:, None]) @ cents_unit  # (n, k)
            # probing more cells than exist clamps to k — argsort can't
            # produce more columns, and the repeat must match
            p = min(probes, scores.shape[1])
            top = np.argsort(-scores, axis=1, kind="stable")[:, :p]  # (n, p)
            repeated = batch.take(np.repeat(np.flatnonzero(ok), p))
            yield repeated.append_column("__cell", pa.array(top.reshape(-1).astype("int32")))

    return df.mapInArrow(kernel, out_schema)


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> List[List[float]]:
    """Deterministic coarse centroids: the ``n_centroids`` lowest-id
    corpus vectors (a data-independent seed choice, reproducible for
    oracle comparison; for production recall fit real cluster centers
    with :func:`fit_centroids` and pass them via ``centroids=``)."""
    rows = (
        corpus.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def fit_centroids(
    corpus: DataFrame,
    n_centroids: Optional[int] = None,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: Optional[float] = None,
    target_cell_size: int = 128,
    n_rows: Optional[int] = None,
) -> List[List[float]]:
    """k-means|| cluster centers from ``pyspark.ml`` — the production
    centroid source for :func:`ivf_topk` / :func:`semantic_dedup`
    (``centroids=`` hook).  Unlike the lowest-id seeds of
    :func:`ivf_centroids`, fitted centers put one centroid per real
    data mode, so cells align with clusters and probe recall is high.

    The fit is distributed (Lloyd iterations over the corpus; only the
    k centers come back to the driver).  On a huge corpus pass
    ``sample_fraction`` to fit on a uniform sample — centroid quality
    degrades slowly with sampling while each iteration's cost drops
    linearly.

    ``n_centroids=None`` (default) self-tunes to the FULL corpus size
    as ``⌈N / target_cell_size⌉`` (the SemDeDup rule — cells must
    track corpus size or probe candidate counts grow K-linearly; the
    round-11 census measured exactly that); N comes from ``n_rows`` or
    one count job.  The derivation uses the pre-``sample_fraction``
    size because the cells serve the full corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_centroids is None:
        n_centroids = _derive_n_cells(
            n_rows if n_rows is not None else corpus.count(),
            target_cell_size,
        )
    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    ).where(F.col("features").isNotNull())
    if sample_fraction is not None:
        feats = feats.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(
        k=n_centroids, seed=seed, maxIter=max_iter, initMode="k-means||"
    ).fit(feats)
    return [[float(x) for x in center] for center in model.clusterCenters()]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: Optional[int] = None,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: Optional[List[List[float]]] = None,
    target_cell_size: int = 128,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (one pass, no shuffle of vectors beyond the final join);
    each query probes its ``n_probes`` nearest cells and scores only the
    vectors inside them.  Candidate fraction ≈ n_probes/n_centroids.

    ``n_centroids=None`` (default, when no ``centroids`` are passed)
    self-tunes to corpus size as ``⌈N / target_cell_size⌉`` — constant
    cell size, so per-query candidates (= n_probes × cell size) stay
    ~flat as the corpus grows, the round-11 census criterion.  N comes
    from ``n_rows`` or one construction-time count; pass
    ``n_centroids`` / ``n_rows`` / ``centroids`` for a fully lazy
    plan."""
    if centroids is None and n_centroids is None:
        n_centroids = _derive_n_cells(
            n_rows if n_rows is not None else corpus.count(),
            target_cell_size,
        )
    cents = (centroids if centroids is not None
             else ivf_centroids(corpus, n_centroids, id_col, vec_col))
    if not cents:
        raise ValueError(
            "no centroids: corpus has no non-null vectors (empty input?) "
            "and none were passed via centroids="
        )
    # project before the Arrow assignment kernel — see rp_lsh_topk
    c = ivf_assignments(corpus.select(id_col, vec_col), cents, vec_col, n_probes=1)
    q = ivf_assignments(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
        ),
        cents,
        "__qvec",
        n_probes=n_probes,
    )
    candidates = (
        c.join(q, "__cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "__qvec", vec_col)
        .distinct()
    )
    scored = cosine_scored_pairs(candidates, "__qvec", vec_col, [query_id_col, id_col])
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: coarse cells -> in-cell near-dup pruning)
# ---------------------------------------------------------------------------


def _derive_n_cells(n_rows: int, target_cell_size: int) -> int:
    """``n_cells ≈ N / target_cell_size`` (≥ 1): the in-cell self-join
    is O(cell²), so the cell count must grow linearly with the corpus
    to keep per-cell work constant — a fixed cell count that is fine at
    gate scale silently turns quadratic at 100× the data."""
    return max(1, -(-n_rows // target_cell_size))


def semantic_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    n_cells: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[List[List[float]]] = None,
    max_cell_size: Optional[int] = 10_000,
    target_cell_size: int = 4096,
    with_drop_stats: bool = False,
):
    """Embedding pairs with cosine ≥ ``threshold`` among vectors sharing
    a coarse IVF cell (the SemDeDup candidate structure: semantic
    near-duplicates collapse into the same cell, so the self-join is
    per-cell, never corpus-wide).

    Cell sizing is the scale knob: the in-cell self-join is O(cell²),
    so ``n_cells`` must track corpus size.  With ``n_cells=None``
    (default) it is derived as ``ceil(N / target_cell_size)`` from one
    count job; pass an explicit ``n_cells`` to pin it (reproducible
    oracles).  ``max_cell_size`` hard-bounds degenerate cells exactly
    like the LSH bucket cap; ``with_drop_stats=True`` returns
    ``(pairs, stats)`` with the one-row :func:`cap_drop_stats` frame
    accounting for what that bound excluded (no silent recall loss).

    Recall caveat vs :func:`embedding_near_dup_pairs` (LSH): a pair
    straddling a cell boundary is missed — standard for the method;
    raise cell quality by fitting real centers with
    :func:`fit_centroids` and passing them in."""
    if centroids is None and n_cells is None:
        n_cells = _derive_n_cells(df.count(), target_cell_size)
    cents = (centroids if centroids is not None
             else ivf_centroids(df, n_cells, id_col, vec_col))
    if not cents:
        raise ValueError(
            "no centroids: input has no non-null vectors (empty input?) "
            "and none were passed via centroids="
        )
    raw = ivf_assignments(df.select(id_col, vec_col), cents, vec_col, n_probes=1)
    assigned = _cap_buckets(raw, "__cell", max_cell_size)
    left = assigned.select(
        F.col("__cell"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("__vec_a")
    )
    right = assigned.select(
        F.col("__cell"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vec_b")
    )
    pairs = left.join(right, "__cell").where(F.col("id_a") < F.col("id_b"))
    result = cosine_scored_pairs(pairs, "__vec_a", "__vec_b", ["id_a", "id_b"]).where(
        F.col("cosine") >= threshold
    )
    if with_drop_stats:
        return result, cap_drop_stats(raw, "__cell", max_cell_size)
    return result


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.99,
    n_cells: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[List[List[float]]] = None,
    max_cell_size: Optional[int] = 10_000,
    target_cell_size: int = 4096,
    unpersist_handle=None,
) -> DataFrame:
    """Full semantic-dedup decision per vector: (id, ``cluster_id``,
    ``keep``) — ``cluster_id`` the smallest id in the vector's
    near-duplicate component (itself when unique), ``keep`` true for
    the one representative per cluster.

    Pipeline: coarse cells → in-cell exact cosine pairs (Arrow/numpy
    kernel) → connected components (a driver-side union-find for a
    small pair set, min-label propagation otherwise) → left join back
    so unique vectors keep themselves.  Every stage is an equi-join or
    aggregate keyed by cell / id — nothing quadratic in the corpus,
    nothing driver-side beyond the ``n_cells`` seed rows and a pair set
    within connected components' driver-side bound.
    Cell sizing / cap accounting as in :func:`semantic_near_dup_pairs`.

    ``unpersist_handle`` frees what connected components keeps live for
    the result (see :func:`~.dedup.connected_components`)."""
    from .dedup import connected_components

    pairs = semantic_near_dup_pairs(
        df, threshold, n_cells, id_col, vec_col, centroids, max_cell_size,
        target_cell_size,
    )
    labels = connected_components(
        pairs, src="id_a", dst="id_b", unpersist_handle=unpersist_handle
    )
    return (
        df.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            (F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col)).alias("keep"),
        )
    )


def group_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    by: Sequence[str] = ("label",),
) -> DataFrame:
    """Per-group embedding centroid + cohesion diagnostics: the
    elementwise-mean vector, its norm, and the average / minimum cosine
    similarity of the group's members to it.  The summary behind
    cluster-quality checks (is this label tight or diffuse?), IVF cell
    audits, and drift monitoring between corpus snapshots.

    All cross-row sums (per-dimension component sums, the average
    cosine) accumulate in DECIMAL(38,12) — order-independent, so the
    result is bit-stable under any partitioning and replays exactly in
    a SQL oracle; per-row folds (dot products with the centroid) fold
    decimal accumulators over the dimension order.

    Plan: one ``posexplode`` pass + aggregate keyed by ``(by…, dim)``
    (rows ≤ groups×dim survive the map-side combine), the centroid
    arrays rebuilt with ``array_sort(collect_list(struct(dim, m)))``
    (bounded by dim count, never by group size), broadcast back onto
    the members for the cosine pass, then one final aggregate per
    group.  The member table itself is only ever shuffled by ``by``.

    Returns ``by…, n (long), centroid (array<double>),
    centroid_norm, avg_cosine, min_cosine (double)``.

    Magnitude contract: vector components must satisfy ``|x| < 1e9``
    (any unit-normalized or feature-scaled embedding qualifies, by
    orders of magnitude).  The cosine pass folds per-dimension products
    as DECIMAL(30,12) terms — 18 integer digits — so a product
    ``|a·b| ≥ 1e18`` overflows that cast: under ANSI mode (the Spark 4
    default) the job fails loudly with NUMERIC_VALUE_OUT_OF_RANGE;
    under non-ANSI mode it becomes NULL, silently nulling that
    vector's cosine and dropping it from ``avg_cosine``.  Pre-scale
    inputs that can exceed the bound.
    """
    keys = [F.col(c) for c in by]
    dec = "decimal(38,12)"
    comp = df.select(*keys, F.posexplode(F.col(vec_col).cast("array<double>")).alias("__dim", "__x"))
    sums = comp.groupBy(*keys, "__dim").agg(
        F.sum(F.col("__x").cast(dec)).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    cent = sums.select(
        *keys, "__dim", "__n",
        (F.col("__s").cast("double") / F.col("__n")).alias("__m"),
    )
    carr = cent.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__dim", "__m"))), lambda s: s["__m"]
        ).alias("centroid"),
        F.max("__n").alias("n"),
        F.sqrt(
            F.sum((F.col("__m") * F.col("__m")).cast(dec)).cast("double")
        ).alias("centroid_norm"),
    )
    # Fold accumulator decimal(36,12) + term decimal(30,12) widens to
    # decimal(37,12) — UNDER Spark's 38-precision cap, so scale-12
    # addition stays exact and the cast back to the accumulator type is
    # lossless.  (decimal(38,12) + decimal(38,12) would widen to
    # precision 39, which the cap resolves by dropping to scale 11 —
    # silently rounding every fold step to 1e-11.)  Unit terms |x| < 1
    # summed over the dimension count fit decimal(36,12) with room.
    acc_dec, term_dec = "decimal(36,12)", "decimal(30,12)"
    zero = F.lit(0).cast(acc_dec)
    v = F.col(vec_col).cast("array<double>")
    member = df.join(F.broadcast(carr), list(by))
    add = lambda acc, x: (acc + x).cast(acc_dec)  # noqa: E731
    dot = F.aggregate(
        F.zip_with(v, F.col("centroid"), lambda a, b: (a * b).cast(term_dec)),
        zero, add,
    ).cast("double")
    vv = F.aggregate(
        F.transform(v, lambda a: (a * a).cast(term_dec)), zero, add
    ).cast("double")
    # zero vectors (or a zero centroid) have no defined cosine: emit null
    # and average over the defined ones only — not 0, which would bias
    # the cohesion score
    denom = F.sqrt(vv) * F.col("centroid_norm")
    cos = F.when(denom > F.lit(0.0), dot / denom)
    n_def = F.count("__cos")
    return (
        member.select(*keys, cos.alias("__cos"))
        .groupBy(*keys)
        .agg(
            F.when(
                n_def > 0, F.sum(F.col("__cos").cast(dec)).cast("double") / n_def
            ).alias("avg_cosine"),
            F.min("__cos").alias("min_cosine"),
        )
        .join(carr, list(by))
        .select(*keys, "n", "centroid", "centroid_norm", "avg_cosine", "min_cosine")
    )


def embedding_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row health report for an embedding column — the checks that
    catch a broken encoder before a 100 TB ANN build: (``n_vecs``,
    ``n_null``, ``n_dims_min``, ``n_dims_max`` — ragged dimensions are
    a hard error downstream, ``n_zero`` — zero vectors break cosine,
    ``n_nonfinite`` — NaN/Inf poison every distance, ``n_overflow`` —
    finite components ≥ 1e11 whose square would overflow the decimal
    fold, ``mean_norm``, ``min_norm``, ``max_norm``).

    Per-vector squared norms fold in DECIMAL(38,15) over the exploded
    components (order-independent, engine-reproducible — the same
    discipline as :func:`group_centroids`); the corpus-level mean is a
    decimal sum of the resulting doubles.  Vectors containing NaN/Inf
    are counted in ``n_nonfinite``; vectors whose components are all
    finite but include some |x| ≥ 1e11 are counted separately in
    ``n_overflow`` — a distinct poison class the report must name,
    not silently drop.  Both classes are excluded from the norm stats
    rather than poisoning them with partial sums — and rather
    than throwing under ANSI mode, which the unguarded decimal cast
    does on components ≥ 1e11.  Scale shape: one explode +
    one per-vector aggregate + one 1-row aggregate — a single scan,
    nothing wider than (id, component) ever shuffles."""
    comp = df.select(
        F.col(id_col).alias("__id"), F.explode(F.col(vec_col)).alias("__x")
    ).select(
        "__id",
        F.col("__x").cast("double").alias("__x"),
    )
    # the squared-component fold must never feed NaN/Inf (or a finite
    # component whose square overflows 23 integer digits) into the
    # DECIMAL cast.  Measured on this Spark build: NaN/Inf casts
    # silently NULL the term in BOTH ANSI modes, so a [NaN, 3, 4]
    # vector would report norm 5.0 into mean/min/max_norm; a finite
    # component >= ~1e11 THROWS NUMERIC_VALUE_OUT_OF_RANGE under ANSI
    # (the Spark 4 default) — killing the very health check whose job
    # is to count the poison.  Guard the terms and NULL the whole norm
    # for any vector with a guarded component.
    finite = ~(F.isnan("__x") | (F.abs("__x") == float("inf")))
    small = F.abs("__x") < F.lit(1e11)
    per_vec = comp.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__d"),
        F.sum(
            F.when(finite & small, (F.col("__x") * F.col("__x")).cast("decimal(38,15)"))
        )
        .cast("double")
        .alias("__ss"),
        F.max((~finite).cast("int")).alias("__bad"),
        F.max((finite & ~small).cast("int")).alias("__huge"),
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).isNull().cast("int").alias("__isnull"),
    )
    joined = base.join(per_vec, "__id", "left")
    # norms are reported only for vectors whose every component is
    # finite and < 1e11 in magnitude; poisoned vectors show up in
    # n_nonfinite instead of skewing mean/min/max_norm with NaN
    clean = (F.coalesce(F.col("__bad"), F.lit(0)) == 0) & (
        F.coalesce(F.col("__huge"), F.lit(0)) == 0
    )
    norm = F.when(clean, F.sqrt(F.col("__ss")))
    return joined.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("__isnull").alias("n_null"),
        F.min("__d").alias("n_dims_min"),
        F.max("__d").alias("n_dims_max"),
        F.sum((clean & (F.col("__ss") == 0.0)).cast("int")).alias("n_zero"),
        F.sum(F.coalesce(F.col("__bad"), F.lit(0))).alias("n_nonfinite"),
        # disjoint from n_nonfinite: all-finite vectors with a component
        # too large for the decimal fold — counted, never silently dropped
        F.sum(
            (
                (F.coalesce(F.col("__bad"), F.lit(0)) == 0)
                & (F.coalesce(F.col("__huge"), F.lit(0)) == 1)
            ).cast("int")
        ).alias("n_overflow"),
        (
            F.sum(norm.cast("decimal(38,15)")).cast("double")
            / F.sum(norm.isNotNull().cast("int")).cast("double")
        ).alias("mean_norm"),
        F.min(norm).alias("min_norm"),
        F.max(norm).alias("max_norm"),
    )


def semantic_decontam_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus
    vector, its maximum cosine against ANY benchmark vector, plus a
    ``contaminated`` flag at ``threshold`` — the semantic complement
    to n-gram :mod:`~spark_extension_spark.operators.decontam`
    (paraphrased eval questions share no 13-gram but sit next to the
    benchmark in embedding space).

    Returns ``(id_col, max_benchmark_cosine, contaminated)`` for every
    corpus row.  Corpus rows with NULL or zero-norm vectors can't be
    scored: NULL cosine, ``contaminated = false`` (they can't *match*
    anything either).  NULL/zero-norm benchmark vectors are ignored.

    Execution shape — the same contract as :func:`brute_force_topk`:
    the benchmark set is eval-sized (10³–10⁵ rows), so it collects to
    the driver once and ships to executors as a normalized matrix;
    each Arrow batch of the corpus scores against it in one vectorized
    kernel.  The corpus is scanned once, never shuffled, and
    only (id, score) pairs come back — no candidate-pair explosion, no
    LSH recall loss: this is *exact* at corpus-scan cost, which is the
    right trade for a screen that must not miss contamination.

    Determinism (EXACTNESS discipline, the :func:`project_embeddings`
    precedent): norms and dot products accumulate as FIXED left-to-
    right folds over the dimensions — vectorized fused adds, not a
    BLAS matmul whose pairwise summation is batch-size- and library-
    dependent — so every score is bit-identical across partitionings,
    batch sizes, and a ``list_reduce`` left-fold SQL replay.
    """
    import numpy as np

    brows = (
        benchmark.select(vec_col).where(F.col(vec_col).isNotNull()).collect()
    )
    vecs = [np.asarray(r[0], dtype=np.float64) for r in brows]
    vecs = [v for v in vecs if np.linalg.norm(v) > 0]
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, `max_benchmark_cosine` double"
    if not vecs:
        return corpus.select(id_col).select(
            id_col,
            F.lit(None).cast("double").alias("max_benchmark_cosine"),
            F.lit(False).alias("contaminated"),
        )
    dims = {len(v) for v in vecs}
    if len(dims) > 1:
        raise ValueError(
            f"benchmark vectors have inconsistent dimensions {sorted(dims)}"
        )
    B = np.stack(vecs)
    Bu = (B / _fold_sq_norms(B)[:, None]).T  # (dim, b)
    id_name, vec_name = id_col, vec_col

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            V, valid = _vectors(batch.column(vec_name))
            vals = np.full(batch.num_rows, np.nan)
            if valid.any():
                norms = _fold_sq_norms(V)
                ok = norms > 0
                if ok.any():
                    Vn = V[ok] / norms[ok, None]
                    if Vn.shape[1] != Bu.shape[0]:
                        # the matmul this fold replaced raised on shape
                        # mismatch; the per-dim loop would silently
                        # truncate the dot product instead — keep the
                        # loud failure
                        raise ValueError(
                            f"corpus vectors have dim {Vn.shape[1]} but "
                            f"benchmark vectors have dim {Bu.shape[0]}"
                        )
                    # dim-ordered left fold == list_reduce((a,b)->a+b)
                    # over per-dim products; one vectorized fused add
                    # per dimension ≈ matmul speed at these dims
                    scores = Vn[:, 0:1] * Bu[0:1, :]
                    for j in range(1, Vn.shape[1]):
                        scores = scores + Vn[:, j : j + 1] * Bu[j : j + 1, :]
                    vals[np.flatnonzero(valid)[ok]] = scores.max(axis=1)
            # every NaN is masked to NULL, not only unscorable rows (a
            # NaN component scores NaN): Spark orders NaN above every
            # number, so NaN >= threshold would be TRUE
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_name), pa.array(vals, mask=np.isnan(vals))],
                names=[id_name, "max_benchmark_cosine"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(kernel, out_schema)
    mbc = F.col("max_benchmark_cosine")
    return scored.select(
        id_col,
        mbc,
        F.coalesce(mbc >= F.lit(float(threshold)), F.lit(False)).alias(
            "contaminated"
        ),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drop corpus rows whose embedding sits within ``threshold``
    cosine of any benchmark vector (see
    :func:`semantic_decontam_flags`).  The flag frame joins back on
    ``id_col`` — same-key equi-join, no second scoring pass."""
    flags = semantic_decontam_flags(
        corpus, benchmark, threshold, id_col=id_col, vec_col=vec_col
    )
    keep = flags.where(~F.col("contaminated")).select(id_col)
    return corpus.join(keep, id_col)
