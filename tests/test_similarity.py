"""Similarity search tests: brute-force exactness, LSH recall on
planted near-duplicates, determinism."""

import math

import pytest
from pyspark.sql import functions as F

from spark_extension_spark.operators.similarity import (
    _bucket_column,
    brute_force_topk,
    cosine_scored_pairs,
    cosine_similarity,
    embedding_near_dup_pairs,
    ivf_assignments,
    project_embeddings,
    rp_lsh_topk,
    rp_planes,
    semantic_decontam_flags,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_cosine_identity(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], ["v"])
    c = df.select(cosine_similarity(F.col("v"), F.col("v")).alias("c")).collect()[0]["c"]
    assert c == pytest.approx(1.0)


def test_cosine_orthogonal_and_zero(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0], [0.0, 0.0])], ["a", "b", "z"])
    row = df.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("ortho"),
        cosine_similarity(F.col("a"), F.col("z")).alias("zero"),
    ).collect()[0]
    assert row["ortho"] == pytest.approx(0.0)
    assert row["zero"] is None


def test_brute_force_topk(emb):
    queries = emb.where(F.col("vec_id") % 25 == 0)
    result = brute_force_topk(emb, queries, k=3)
    rows = result.collect()
    n_queries = queries.count()
    assert len(rows) == 3 * n_queries
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    for q, neighbours in by_query.items():
        ranks = sorted(r["rank"] for r in neighbours)
        assert ranks == [1, 2, 3]
        ordered = sorted(neighbours, key=lambda r: r["rank"])
        cosines = [r["cosine"] for r in ordered]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["vec_id"] != q for r in neighbours)


def test_brute_force_topk_null_and_ragged_queries(emb, spark):
    # null query vectors are dropped (mirroring corpus-side handling)
    # instead of crashing np.stack on the driver
    queries = spark.createDataFrame(
        [(0, None), (25, [float(i) for i in range(16)])],
        "vec_id long, embedding array<double>",
    )
    dim = len(emb.first()["embedding"])
    good = emb.where(F.col("vec_id") == 25).select("vec_id", "embedding")
    nulls = spark.createDataFrame([(999999,)], "vec_id long").withColumn(
        "embedding", F.lit(None).cast(f"array<double>")
    )
    result = brute_force_topk(emb, good.unionByName(nulls), k=2)
    assert {r["query_id"] for r in result.collect()} == {25}

    # ragged dims raise a clear error naming the offender
    ragged = spark.createDataFrame(
        [(1, [1.0] * dim), (2, [1.0] * (dim + 1))],
        f"vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="inconsistent dimensions"):
        brute_force_topk(emb, ragged, k=2)


def test_lsh_finds_planted_neighbours(emb, spark):
    scaled = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.1).alias("embedding"),
    )
    corpus = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")).unionAll(scaled)
    queries = corpus.where(F.col("vec_id") % 25 == 0).where(F.col("vec_id") < 100000)
    result = rp_lsh_topk(corpus, queries, k=1, num_planes=12, probes=1)
    top1 = {r["query_id"]: (r["vec_id"], r["cosine"]) for r in result.collect()}
    hits = sum(1 for q, (v, c) in top1.items() if v == q + 100000 and c > 0.999999)
    assert hits == len(top1)  # scaled copy shares the exact bucket: always found


def test_embedding_near_dup_pairs(emb):
    scaled = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).unionAll(scaled)
    pairs = embedding_near_dup_pairs(corpus, threshold=0.9999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    n = emb.count()
    planted = {(i, i + 100000) for i in range(n)}
    assert planted <= got


def test_rp_planes_deterministic():
    assert rp_planes(4, 8) == rp_planes(4, 8)
    assert rp_planes(4, 8, seed=1) != rp_planes(4, 8, seed=2)
    assert all(w in (-1, 1) for row in rp_planes(4, 8) for w in row)


def test_ivf_topk_recall(emb, spark):
    from spark_extension_spark.operators.similarity import ivf_topk

    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_centroids=8, n_probes=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # probing half the cells must recover a meaningful share of true top-k
    assert len(e & a) / len(e) >= 0.3
    # every approx result carries a correct exact cosine and valid rank
    for r in approx.collect():
        assert 1 <= r["rank"] <= 5


def test_ivf_deterministic(emb):
    from spark_extension_spark.operators.similarity import ivf_topk

    queries = emb.where(F.col("vec_id") % 100 == 0)
    r1 = sorted(map(tuple, ivf_topk(emb, queries, k=3, n_centroids=4, n_probes=2).collect()))
    r2 = sorted(map(tuple, ivf_topk(emb, queries, k=3, n_centroids=4, n_probes=2).collect()))
    assert r1 == r2


# -- semantic dedup ----------------------------------------------------------


def test_semantic_dedup_clusters_and_keeps(spark):
    from spark_extension_spark.operators.similarity import semantic_dedup

    # seeds (lowest ids) are the two orthogonal cluster axes; 3 and 4
    # are near-duplicates of them, 5 sits between (its own cluster)
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.999, 0.01, 0.0]),   # ~same direction as 1
        (4, [0.01, 0.999, 0.0]),   # ~same direction as 2
        (5, [0.577, 0.577, 0.577]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in semantic_dedup(df, threshold=0.99, n_cells=2).collect()}
    assert got[3]["cluster_id"] == 1 and not got[3]["keep"]
    assert got[4]["cluster_id"] == 2 and not got[4]["keep"]
    assert got[1]["keep"] and got[2]["keep"] and got[5]["keep"]
    assert got[5]["cluster_id"] == 5


def test_semantic_dedup_transitive_chain(spark):
    from spark_extension_spark.operators.similarity import semantic_dedup

    # a ~ b, b ~ c but a !~ c: transitivity still groups all three
    rows = [
        (10, [1.0, 0.0]),
        (11, [0.9962, 0.0872]),  # ~5 deg
        (12, [0.9848, 0.1736]),  # ~10 deg: cos(10deg)=0.985 < t vs 10
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cluster_id"] for r in
           semantic_dedup(df, threshold=0.995, n_cells=1).collect()}
    assert got == {10: 10, 11: 10, 12: 10}


def test_semantic_near_dup_pairs_within_cells_only(spark):
    from spark_extension_spark.operators.similarity import semantic_near_dup_pairs

    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [-1.0, 0.0]), (4, [-1.0, -0.001])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             semantic_near_dup_pairs(
                 df, threshold=0.99, centroids=[[1.0, 0.0], [-1.0, 0.0]]
             ).collect()}
    assert pairs == {(1, 2), (3, 4)}


def test_derive_n_cells_tracks_corpus_size():
    from spark_extension_spark.operators.similarity import _derive_n_cells

    assert _derive_n_cells(100, 4096) == 1
    assert _derive_n_cells(4096, 4096) == 1
    assert _derive_n_cells(4097, 4096) == 2
    # linear in N: 100x corpus -> 100x cells, per-cell work constant
    assert _derive_n_cells(4096 * 1000, 4096) == 1000


def test_semantic_dedup_derives_cells_when_unpinned(spark):
    from spark_extension_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.999, 0.01, 0.0]),
        (4, [0.01, 0.999, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # n_cells=None: derived from one count job (ceil(4/4096) = 1 cell)
    got = {r["vec_id"]: r for r in semantic_dedup(df, threshold=0.99).collect()}
    assert got[3]["cluster_id"] == 1 and not got[3]["keep"]
    assert got[4]["cluster_id"] == 2 and not got[4]["keep"]


def test_cap_buckets_drop_accounting(spark):
    from spark_extension_spark.operators.similarity import semantic_near_dup_pairs

    # 12 copies of one direction overflow a cap of 10: the whole cell is
    # dropped and the stats frame reports every excluded row — the cap
    # must never lose recall silently
    rows = [(i, [1.0, 0.0]) for i in range(12)] + [(100, [0.0, 1.0]), (101, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs, stats = semantic_near_dup_pairs(
        df,
        threshold=0.99,
        centroids=[[1.0, 0.0], [0.0, 1.0]],
        max_cell_size=10,
        with_drop_stats=True,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(100, 101)}  # the over-cap cell produced no pairs
    s = stats.collect()[0]
    assert (s["input_rows"], s["dropped_rows"], s["dropped_buckets"]) == (14, 12, 1)

    # everything-dropped still reports (an Observation would vanish here:
    # AQE's empty-relation propagation deletes the metrics node)
    pairs2, stats2 = semantic_near_dup_pairs(
        df,
        threshold=0.99,
        centroids=[[1.0, 0.0], [0.0, 1.0]],
        max_cell_size=1,
        with_drop_stats=True,
    )
    assert pairs2.count() == 0
    s2 = stats2.collect()[0]
    assert (s2["input_rows"], s2["dropped_rows"], s2["dropped_buckets"]) == (14, 14, 2)

    # cap=None: guard off, nothing dropped
    from spark_extension_spark.operators.similarity import cap_drop_stats

    s3 = cap_drop_stats(df.withColumn("__cell", F.lit(0)), "__cell", None).collect()[0]
    assert (s3["input_rows"], s3["dropped_rows"], s3["dropped_buckets"]) == (14, 0, 0)


def test_fit_centroids_beats_lowest_id_seeds(spark):
    """Planted clusters where the lowest-id seeds are degenerate (all in
    one cluster): k-means|| recovers one centroid per real mode, so
    single-probe IVF recall is near-exact; the id seeds scatter the
    other clusters across arbitrary cells."""
    import numpy as np

    from spark_extension_spark.operators.similarity import (
        fit_centroids,
        ivf_centroids,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    dim, per_cluster = 8, 30
    axes = np.eye(3, dim)  # three orthogonal cluster directions
    rows = []
    for i in range(3 * per_cluster):
        c = i // per_cluster  # ids 0..29 cluster 0: lowest-id seeds all cluster 0
        v = axes[c] + rng.normal(0, 0.05, dim)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") % 10 == 3)

    exact = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(df, queries, k=5).collect()}

    def recall(centroids):
        approx = ivf_topk(df, queries, k=5, n_probes=1, centroids=centroids)
        a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
        return len(exact & a) / len(exact)

    fitted = recall(fit_centroids(df, n_centroids=3, seed=1))
    seeded = recall(ivf_centroids(df, n_centroids=3))
    assert fitted >= 0.9
    assert fitted > seeded


def test_project_embeddings_deterministic_and_shape(emb):
    from spark_extension_spark.operators.similarity import project_embeddings

    a = {r["vec_id"]: r["embedding"] for r in
         project_embeddings(emb.coalesce(1), out_dim=8).collect()}
    b = {r["vec_id"]: r["embedding"] for r in
         project_embeddings(emb.repartition(7), out_dim=8).collect()}
    assert a == b  # fixed-order fold: bit-identical under any partitioning
    assert all(len(v) == 8 for v in a.values())


def test_project_embeddings_preserves_geometry(emb, spark):
    """JL property: distances survive in expectation — near-identical
    vectors stay near-identical after projection, orthogonal-ish pairs
    stay far, at 64 -> 16 dims."""
    import math

    from spark_extension_spark.operators.similarity import project_embeddings

    def cos(u, v):
        dot = sum(x * y for x, y in zip(u, v))
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return dot / (nu * nv)

    rows = emb.limit(30).collect()
    proj = {r["vec_id"]: r["embedding"] for r in
            project_embeddings(emb.limit(30), out_dim=16).collect()}
    orig = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    ids = sorted(orig)
    errs = [
        abs(cos(orig[i], orig[j]) - cos(proj[i], proj[j]))
        for n, i in enumerate(ids)
        for j in ids[n + 1:]
    ]
    assert sum(errs) / len(errs) < 0.25  # coarse but real geometry preservation


def test_project_embeddings_validation(emb):
    from spark_extension_spark.operators.similarity import project_embeddings

    with pytest.raises(ValueError, match="out_dim must be positive"):
        project_embeddings(emb, out_dim=0)


# ---------------------------------------------------------------------------
# group_centroids
# ---------------------------------------------------------------------------


def test_group_centroids_matches_numpy(spark):
    import numpy as np
    from spark_extension_spark.operators.similarity import group_centroids

    rng = np.random.default_rng(3)
    rows = []
    vecs = {"a": [], "b": []}
    for g in ("a", "b"):
        base = rng.normal(0, 1, 8)
        for _ in range(20):
            v = (base + rng.normal(0, 0.2, 8)).astype(np.float32)
            vecs[g].append(v)
            rows.append((g, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["label", "embedding"])
    got = {r["label"]: r for r in group_centroids(df, by=["label"]).collect()}
    for g in ("a", "b"):
        V = np.stack(vecs[g]).astype(np.float64)
        c = V.mean(axis=0)
        np.testing.assert_allclose(got[g]["centroid"], c, rtol=1e-9)
        assert got[g]["n"] == 20
        np.testing.assert_allclose(got[g]["centroid_norm"], np.linalg.norm(c), rtol=1e-9)
        cosines = (V @ c) / (np.linalg.norm(V, axis=1) * np.linalg.norm(c))
        np.testing.assert_allclose(got[g]["avg_cosine"], cosines.mean(), rtol=1e-6)
        np.testing.assert_allclose(got[g]["min_cosine"], cosines.min(), rtol=1e-6)


def test_group_centroids_partitioning_independent(spark):
    from spark_extension_spark.operators.similarity import group_centroids

    rows = [("g", [float(i % 7) / 3.0 + 0.01 * i for _ in range(4)]) for i in range(100)]
    df1 = spark.createDataFrame(rows, ["label", "embedding"]).repartition(1)
    df2 = spark.createDataFrame(rows, ["label", "embedding"]).repartition(13)
    r1 = group_centroids(df1, by=["label"]).collect()[0]
    r2 = group_centroids(df2, by=["label"]).collect()[0]
    # decimal accumulation: bit-identical regardless of partitioning
    assert r1["centroid"] == r2["centroid"]
    assert r1["avg_cosine"] == r2["avg_cosine"]


def test_embedding_stats_health_checks(spark):
    from spark_extension_spark.operators.similarity import embedding_stats

    rows = [
        (1, [3.0, 4.0]),            # norm 5
        (2, [0.0, 0.0]),            # zero vector
        (3, [float("nan"), 1.0]),   # non-finite
        (4, [1.0, 2.0, 2.0]),       # ragged dims (3)
        (5, None),                  # null embedding
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    s = embedding_stats(df).collect()[0]
    assert s["n_vecs"] == 5
    assert s["n_null"] == 1
    assert (s["n_dims_min"], s["n_dims_max"]) == (2, 3)
    assert s["n_zero"] == 1
    assert s["n_nonfinite"] == 1
    assert s["min_norm"] == 0.0
    assert s["max_norm"] == 5.0


def test_embedding_stats_partitioning_independent(spark, sf_dir):
    from spark_extension_spark.operators.similarity import embedding_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = embedding_stats(emb).collect()[0]
    b = embedding_stats(emb.repartition(7)).collect()[0]
    assert a == b


def test_lsh_probes_widen_neighborhood(spark):
    # probes=k must probe ALL buckets within Hamming distance k — not
    # silently behave like probes=1
    from spark_extension_spark.operators.similarity import (
        _with_buckets,
        rp_planes,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, [1.0, 0.0, 0.5, -0.25])], ["vec_id", "embedding"])
    planes = rp_planes(num_planes=4, dim=4, seed=7)
    import math

    for probes, expect in [(0, 1), (1, 5), (2, 1 + 4 + 6), (4, 16)]:
        got = _with_buckets(df, "embedding", planes, probes=probes)
        buckets = [r["__bucket"] for r in got.collect()]
        assert len(buckets) == expect, (probes, buckets)
        assert len(set(buckets)) == expect  # all distinct
    import pytest as _pytest

    with _pytest.raises(ValueError, match="probes must be >= 0"):
        _with_buckets(df, "embedding", planes, probes=-1)


def test_ivf_ignores_null_embeddings(spark):
    from spark_extension_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    corpus = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame([(10, [1.0, 0.0])], "vec_id long, embedding array<double>")
    cents = ivf_centroids(corpus, n_centroids=2)
    assert all(c is not None for c in cents)
    top = ivf_topk(corpus, queries, k=2, centroids=cents).collect()
    assert [r["vec_id"] for r in top][:1] == [2]


def test_embedding_stats_nonfinite_and_huge_guarded(spark):
    # NaN/Inf components silently NULL their decimal term (both ANSI
    # modes) and a finite component >= ~1e11 THROWS under ANSI — the
    # guard must keep the health check alive AND keep poisoned vectors
    # out of the norm stats instead of reporting partial norms
    from spark_extension_spark.operators.similarity import embedding_stats

    rows = [
        (1, [3.0, 4.0]),                  # norm 5
        (2, [float("nan"), 3.0, 4.0]),    # would report norm 5.0 unguarded
        (3, [float("inf"), 1.0]),         # nonfinite
        (4, [1e12, 1.0]),                 # square overflows decimal(38,15)
        (5, [0.0, 0.0]),                  # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    s = embedding_stats(df).collect()[0]
    assert s["n_vecs"] == 5
    assert s["n_nonfinite"] == 2          # NaN + Inf vectors
    assert s["n_overflow"] == 1           # the finite-but-1e12 vector, counted
    assert s["n_zero"] == 1
    # only the clean vectors (1 and 5) contribute norms
    assert s["min_norm"] == 0.0
    assert s["max_norm"] == 5.0
    assert s["mean_norm"] == pytest.approx(2.5)


def test_brute_force_topk_drops_zero_norm_queries(spark):
    from spark_extension_spark.operators.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0]), (12, None)],
        "vec_id long, embedding array<double>",
    )
    rows = brute_force_topk(corpus, queries, k=2).collect()
    # zero-norm and null queries produce NO rows — never a fabricated
    # all-cosine-0.0 "top-k" of the lowest-id corpus rows
    assert {r["query_id"] for r in rows} == {10}
    assert len(rows) == 2

    all_bad = spark.createDataFrame(
        [(11, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert brute_force_topk(corpus, all_bad, k=2).count() == 0


def test_project_embeddings_null_vectors_row_preserving(spark):
    from spark_extension_spark.operators.similarity import project_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, None), (3, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["embedding"] for r in project_embeddings(df, 2).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] is None
    assert out[1] is not None and len(out[1]) == 2
    # non-null rows must project identically with and without the null
    clean = {
        r["vec_id"]: r["embedding"]
        for r in project_embeddings(df.where(F.col("embedding").isNotNull()), 2).collect()
    }
    assert out[1] == clean[1] and out[3] == clean[3]


def test_dim_inference_clear_errors(spark):
    from spark_extension_spark.operators.similarity import (
        ivf_topk,
        project_embeddings,
        rp_lsh_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    all_null = spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>")
    for df in (empty, all_null):
        with pytest.raises(ValueError, match="cannot infer embedding dim"):
            project_embeddings(df, 2)
        with pytest.raises(ValueError, match="cannot infer embedding dim"):
            rp_lsh_topk(df, df)
    # IVF: empty corpus -> clear no-centroids error, not a numpy AxisError
    with pytest.raises(ValueError, match="no centroids"):
        ivf_topk(empty, empty)
    # an explicitly-passed empty centroid list must also error clearly,
    # never silently recompute from the corpus
    some = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no centroids"):
        ivf_topk(some, some, centroids=[])


def test_lsh_and_ivf_tolerate_payload_and_query_id_columns(spark):
    # corpus payload columns must not break the post-join select (and
    # are pruned before the Arrow bucket kernel)
    from spark_extension_spark.operators.similarity import ivf_topk, rp_lsh_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.1], "payload", 99), (2, [0.1, 1.0], "p2", 98),
         (3, [1.0, 0.2], "p3", 97)],
        "vec_id long, embedding array<double>, text string, query_id long",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    lsh = rp_lsh_topk(corpus, queries, k=2, num_planes=4, probes=4)
    assert lsh.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert lsh.count() >= 1
    ivf = ivf_topk(corpus, queries, k=2, n_centroids=2, n_probes=2)
    assert ivf.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert ivf.count() >= 1


class TestSelfTuningKnobs:
    """Round-12: the ANN scale knobs the weak-scaling census named are
    now the defaults — planes/cells derive from corpus size instead of
    relying on a caller remembering to scale them."""

    def test_derive_num_planes_reproduces_census_calibration(self):
        from spark_extension_spark.operators.similarity import _derive_num_planes

        # the census rule 12 + ceil(log2 K) at the 2000-row base corpus
        assert _derive_num_planes(2000) == 12
        assert _derive_num_planes(6000) == 14   # K=3
        assert _derive_num_planes(20000) == 16  # K=10
        # floor for degenerate corpora
        assert _derive_num_planes(1) == 4
        assert _derive_num_planes(0) == 4

    def test_derive_n_cells_rule(self):
        from spark_extension_spark.operators.similarity import _derive_n_cells

        assert _derive_n_cells(2000, 128) == 16   # the old fixed default
        assert _derive_n_cells(20000, 128) == 157  # ~10x cells at 10x rows
        assert _derive_n_cells(0, 128) == 1

    def test_default_path_equals_explicit_derived_knob(self, spark):
        from spark_extension_spark.operators.similarity import (
            _derive_n_cells,
            _derive_num_planes,
            ivf_topk,
            rp_lsh_topk,
        )

        rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(4)]) for i in range(40)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = df.where(F.col("vec_id") % 10 == 0)

        auto = sorted(map(tuple, rp_lsh_topk(df, q, k=2).collect()))
        pinned = sorted(
            map(tuple, rp_lsh_topk(df, q, k=2, num_planes=_derive_num_planes(40)).collect())
        )
        assert auto == pinned

        # n_rows= keeps construction lazy and must match the count path
        estimated = sorted(map(tuple, rp_lsh_topk(df, q, k=2, n_rows=40).collect()))
        assert estimated == pinned

        auto_ivf = sorted(map(tuple, ivf_topk(df, q, k=2).collect()))
        pinned_ivf = sorted(
            map(
                tuple,
                ivf_topk(df, q, k=2, n_centroids=_derive_n_cells(40, 128)).collect(),
            )
        )
        assert auto_ivf == pinned_ivf

    def test_fit_centroids_derives_cell_count(self, spark):
        from spark_extension_spark.operators.similarity import fit_centroids

        rows = [(i, [float(i % 3), float((i * 5) % 7), 1.0]) for i in range(300)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        cents = fit_centroids(df, target_cell_size=100, seed=1)
        assert len(cents) == 3  # ceil(300/100)


# ---------------------------------------------------------------------------
# Kernel edge cases, pinned bit for bit.  Floats compare by ``float.hex``,
# so any change to a kernel's arithmetic fails here, not only a change
# large enough to leave the oracle's ulp band.
# ---------------------------------------------------------------------------

_EDGE_SCHEMA = "vec_id long, embedding array<float>"
_EDGE_ROWS = [
    (1, [0.3, -1.7, 2.25]),
    (2, [1.1, 0.4, -0.6]),
    (3, None),                      # null vector
    (4, [0.0, 0.0, 0.0]),           # zero norm
    (5, [0.5, None, 1.5]),          # null element: read as NaN, not an error
    (6, [-2.0, 0.75, 0.1]),
    (7, [float("inf"), 1.0, 0.0]),  # NaN once normalised
]


def _hex(x):
    return None if x is None else float(x).hex()


def _edge_cosine_pairs(df, spark):
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).where("id_a < id_b").repartition(8, "id_a")
    out = cosine_scored_pairs(pairs, "va", "vb", ["id_a", "id_b"])
    return {(r["id_a"], r["id_b"]): _hex(r["cosine"]) for r in out.collect()}


def _edge_brute_force(df, spark):
    # queries 3 (null) and 4 (zero norm) are dropped before the kernel
    out = brute_force_topk(df, df.where("vec_id IN (1, 2, 3, 4)"), k=3)
    return sorted(
        (r["query_id"], r["vec_id"], _hex(r["cosine"]), r["rank"]) for r in out.collect()
    )


def _edge_buckets(df, spark):
    out = _bucket_column(df, "embedding", rp_planes(6, 3))
    return {r["vec_id"]: r["__bucket"] for r in out.collect()}


def _edge_project(df, spark):
    out = project_embeddings(df, 2, dim=3)
    return {
        r["vec_id"]: None if r["embedding"] is None else [_hex(x) for x in r["embedding"]]
        for r in out.collect()
    }


def _edge_ivf(df, spark):
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    return sorted(
        (r["vec_id"], r["__cell"]) for r in ivf_assignments(df, cents, n_probes=2).collect()
    )


def _edge_decontam(df, spark):
    bench = spark.createDataFrame(
        [(100, [0.3, -1.6, 2.2]), (101, [0.0, 0.0, 0.0]), (102, None)], _EDGE_SCHEMA
    )
    out = semantic_decontam_flags(df, bench, threshold=0.5)
    return {
        r["vec_id"]: (_hex(r["max_benchmark_cosine"]), r["contaminated"])
        for r in out.collect()
    }


_EDGE = {  # kernel: (runner, output on the edge rows)
    "brute_force": (_edge_brute_force, [
        (1, 2, "-0x1.d2b12267bf2a3p-2", 2),
        (1, 6, "-0x1.169e980069370p-2", 1),
        (2, 1, "-0x1.d2b12267bf2a3p-2", 1),
        (2, 6, "-0x1.64cd119555b34p-1", 2),
    ]),
    "buckets": (_edge_buckets, {
        1: "101111", 2: "011100", 3: None, 4: "000000", 5: "000000",
        6: "100011", 7: "011100",
    }),
    "cosine_pairs": (_edge_cosine_pairs, {
        **{(a, b): None for a in range(1, 8) for b in range(a + 1, 8)},
        (1, 2): "-0x1.d2b12267bf2a3p-2",
        (1, 6): "-0x1.169e980069370p-2",
        (2, 6): "-0x1.64cd119555b33p-1",
    }),
    "decontam": (_edge_decontam, {
        1: ("0x1.ffe9734a8403cp-1", True),
        2: ("-0x1.cfaf830bbf662p-2", False),
        3: (None, False),
        4: (None, False),
        5: (None, False),
        6: ("-0x1.1476e58975f7bp-2", False),
        7: (None, False),
    }),
    "ivf": (_edge_ivf, [
        (1, 0), (1, 2), (2, 0), (2, 1), (4, 0), (4, 1), (5, 0), (5, 1),
        (6, 1), (6, 2), (7, 0), (7, 1),
    ]),
    # NaN projections (the null element) come back as null elements
    "project": (_edge_project, {
        1: ["0x1.6a09e0bfcc232p-3", "-0x1.6a09e0bfcc232p-3"],
        2: ["-0x1.d6a679515d637p-1", "0x1.d6a679515d637p-1"],
        3: None,
        4: ["0x0.0p+0", "0x0.0p+0"],
        5: [None, None],
        6: ["0x1.01f3da92ba865p+1", "-0x1.01f3da92ba865p+1"],
        7: ["-inf", "inf"],
    }),
}


@pytest.mark.parametrize("kernel", sorted(_EDGE))
def test_kernel_edge_cases_bit_exact(spark, kernel):
    run, expected = _EDGE[kernel]
    # 8 hash partitions for 7 rows: at least one kernel task is empty
    df = spark.createDataFrame(_EDGE_ROWS, _EDGE_SCHEMA).repartition(8, "vec_id")
    assert run(df, spark) == expected


@pytest.mark.parametrize("kernel", sorted(_EDGE))
def test_kernel_rejects_ragged_batch(spark, kernel):
    # one partition, so one batch holds vectors of 3, 2 and 4 elements:
    # 9 values reshape to 3 x 3 without complaint, misaligning rows 5 and 6
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (5, [1.0, 2.0]), (6, [0.5, 0.25, 1.0, 2.0])], _EDGE_SCHEMA
    ).coalesce(1)
    with pytest.raises(Exception, match="ValueError"):
        _EDGE[kernel][0](df, spark)
