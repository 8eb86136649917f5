"""Dedup operator tests: exact, n-gram Jaccard, MinHash-LSH, SimHash."""

import pytest
from pyspark.sql import functions as F

from spark_extension_spark.operators.dedup import (
    duplicate_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("afternoon", "evening")
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE + "."),          # exact dup after normalization
            (3, near),                # near dup (one token differs)
            (4, "completely different text about databases and query engines "
                "processing large volumes of analytical workloads daily"),
            (5, ""),                  # empty doc
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup(docs):
    kept = exact_dedup(docs)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 1 in ids and 2 not in ids  # doc 2 normalizes to doc 1
    assert {3, 4, 5} <= ids


def test_duplicate_clusters(docs):
    clusters = duplicate_clusters(docs).collect()
    assert len(clusters) == 1
    assert clusters[0]["cluster_size"] == 2
    assert clusters[0]["representative"] == 1


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    got = {r["shingle"] for r in shingles(df, n=3).collect()}
    assert got == {"a b c", "b c d"}
    # n larger than token count -> no shingles, no crash
    assert shingles(spark.createDataFrame([(1, "a b")], ["doc_id", "text"]), n=3).count() == 0


def test_ngram_jaccard_pairs(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    keyed = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (1, 2) in keyed and keyed[(1, 2)] == 1.0
    assert (1, 3) in keyed and 0.5 <= keyed[(1, 3)] < 1.0
    assert not any(4 in pair for pair in keyed)


def test_minhash_signatures_shape(docs):
    sig = minhash_signatures(docs, num_hashes=16)
    assert len([c for c in sig.columns if c.startswith("mh_")]) == 16
    # identical content -> identical signature
    rows = {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(16)) for r in sig.collect()}
    assert rows[1] == rows[2]


def test_minhash_lsh_pairs(docs):
    pairs = minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.5)
    keyed = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert keyed.get((1, 2)) == 1.0
    assert (1, 3) in keyed  # near dup caught by banding
    assert not any(4 in pair for pair in keyed)


def test_minhash_bad_bands(docs):
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(docs, num_hashes=32, bands=7)


def test_simhash(docs, spark):
    values = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert values[1] == values[2]

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(values[1], values[3]) < hamming(values[1], values[4])


# -- connected components ---------------------------------------------------


def test_connected_components_two_clusters(spark):
    from spark_extension_spark import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges, warn_single_use=False).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_chain_and_direction(spark):
    from spark_extension_spark import connected_components

    # labels must flow against edge direction too (symmetrization)
    edges = spark.createDataFrame([(5, 4), (4, 3), (3, 2), (2, 1)], ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges, warn_single_use=False).collect()}
    assert set(got.values()) == {1}


def test_connected_components_empty(spark):
    from spark_extension_spark import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges, warn_single_use=False).count() == 0


def test_connected_components_star_matches_label(spark):
    from spark_extension_spark import connected_components

    # chain + clique + isolated pair; both algorithms must agree exactly
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (10, 12), (11, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    label = {r["id"]: r["cluster_id"]
             for r in connected_components(edges, algorithm="label", warn_single_use=False).collect()}
    star = {r["id"]: r["cluster_id"]
            for r in connected_components(edges, algorithm="star", warn_single_use=False).collect()}
    assert label == star
    assert star[6] == 1 and star[12] == 10 and star[21] == 20


def test_connected_components_star_long_chain(spark):
    from spark_extension_spark import connected_components

    # diameter-100 chain: label propagation would need ~100 steps; star
    # contraction converges in O(log^2 n) rounds well inside the limit
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id_a", "id_b"]
    )
    got = connected_components(edges, algorithm="star", max_iterations=15, warn_single_use=False)
    assert {r["cluster_id"] for r in got.collect()} == {0}
    assert got.count() == 101


def test_connected_components_check_every_batching(spark):
    from spark_extension_spark import connected_components

    # check_every larger than the diameter: still converges and is exact
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(edges, check_every=5, warn_single_use=False).collect()}
    assert set(got.values()) == {1}


def test_connected_components_last_step_detection(spark):
    # round-13: convergence is judged on the batch's LAST step alone,
    # so the batch that reaches the fixpoint also proves it — a
    # diameter-2 graph at check_every=3 must exit after ONE batch
    # (the former whole-batch comparison needed a second, fully no-op
    # batch), with identical labels
    from spark_extension_spark import connected_components
    from spark_extension_spark.operators.dedup import cc_stats_log

    cc_stats_log(clear=True)
    # star around 1: diameter 2 via the center
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            edges, check_every=3, warn_single_use=False
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    (entry,) = cc_stats_log(clear=True)
    assert entry["iterations"] == 3 and entry["converged"]  # one batch


def test_connected_components_stats_log(spark):
    from spark_extension_spark import connected_components
    from spark_extension_spark.operators.dedup import cc_stats_log

    cc_stats_log(clear=True)
    # diameter-4 chain, check_every=2: convergence is detected on a
    # batch boundary, so iterations is the diameter rounded up to the
    # batch that first measured zero changes
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1)], ["id_a", "id_b"]
    )
    connected_components(edges, check_every=2, warn_single_use=False).count()
    star_edges = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    connected_components(
        star_edges, algorithm="star", warn_single_use=False
    ).count()

    log = cc_stats_log(clear=True)
    assert [e["algorithm"] for e in log] == ["label", "star"]
    label, star = log
    # the chain needs 4 label steps; the zero-change batch lands at 6
    assert label["iterations"] == 6 and label["converged"]
    assert 1 <= star["iterations"] <= star["max_iterations"]
    assert cc_stats_log() == []  # drained

    # a blown iteration budget is recorded too (converged=False), just
    # before the RuntimeError raises
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            edges, max_iterations=1, check_every=1, warn_single_use=False
        ).count()
    (blown,) = cc_stats_log(clear=True)
    assert blown == {
        "algorithm": "label",
        "iterations": 1,
        "max_iterations": 1,
        "converged": False,
    }


def _union_find_labels(edges):
    """Reference labels: component minimum per node.  A null id links
    nothing; its label is the smallest label among its non-null
    neighbours (None when it has none)."""
    parent = {}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        for v in (a, b):
            if v is not None:
                parent.setdefault(v, v)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    got = {v: find(v) for v in parent}
    null_nbrs = [
        got[o] for a, b in edges for n, o in ((a, b), (b, a))
        if n is None and o is not None
    ]
    if any(None in e for e in edges):
        got[None] = min(null_nbrs) if null_nbrs else None
    return got


def _label_steps(edges, labels):
    """Steps min-label propagation needs on a null-free graph: the
    largest hop distance from any node to its component minimum."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    far = 0
    for root in set(labels.values()):
        dist, frontier = {root: 0}, [root]
        while frontier:
            nxt = []
            for v in frontier:
                for w in nbrs[v] - dist.keys():
                    dist[w] = dist[v] + 1
                    nxt.append(w)
            frontier = nxt
        far = max(far, max(dist.values()))
    return far


def _random_multigraph(seed):
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1000), 30)
    edges = [tuple(rng.sample(ids, 2)) for _ in range(18)]
    chain = sorted(rng.sample(range(1000, 2000), rng.randint(2, 8)), reverse=True)
    edges += list(zip(chain, chain[1:]))  # the minimum sits at one end
    edges += [(b, a) for a, b in rng.sample(edges, 4)]  # both directions
    edges += rng.sample(edges, 4)  # repeated edges
    edges += [(v, v) for v in rng.sample(ids, 3) + [2000 + seed]]  # self-loops
    rng.shuffle(edges)
    return edges


def test_connected_components_match_union_find(spark):
    # seeded random multigraphs (repeated and reversed edges, input
    # self-loops, a node that only loops to itself, chains longer than
    # a batch): labels equal a union-find reference at every batch size,
    # equal the star algorithm, and the label loop stops at the first
    # batch whose last step is a no-op
    from spark_extension_spark import connected_components
    from spark_extension_spark.operators.dedup import cc_stats_log

    def run(edges, schema, **kw):
        df = spark.createDataFrame(edges, schema)
        out = connected_components(df, warn_single_use=False, **kw)
        return {r["id"]: r["cluster_id"] for r in out.collect()}

    for seed in range(6):
        edges = _random_multigraph(seed)
        want = _union_find_labels(edges)
        steps = _label_steps(edges, want)
        for check_every in (1, 2, 3):
            cc_stats_log(clear=True)
            assert run(edges, "id_a long, id_b long", check_every=check_every) == want
            (entry,) = cc_stats_log(clear=True)
            batches = -(-(steps + 1) // check_every)
            assert entry["iterations"] == batches * check_every, (seed, check_every)
        star = run(edges, "id_a long, id_b long", algorithm="star")
        assert star == want, seed

    # string ids: the same loop, ordered as strings
    words = [("m", "k"), ("k", "c"), ("c", "c"), ("x", "q"), ("q", "x"), ("z", "z")]
    for check_every in (1, 2, 3):
        got = run(words, "id_a string, id_b string", check_every=check_every)
        assert got == _union_find_labels(words)
    # a null id links nothing and takes its neighbours' smallest label
    # (the star algorithm gives it a null label instead, so it is not
    # compared here)
    nulls = [(5, 4), (4, 3), (None, 5), (9, None), (9, 8), (None, None), (7, 7)]
    for check_every in (1, 2, 3):
        got = run(nulls, "id_a long, id_b long", check_every=check_every)
        assert got == _union_find_labels(nulls) == {
            3: 3, 4: 3, 5: 3, 7: 7, 8: 8, 9: 8, None: 3
        }
    assert run([(None, None)], "id_a long, id_b long") == {None: None}


@pytest.mark.parametrize("check_every", [3, 5])
def test_connected_components_batch_plan_linear(spark, monkeypatch, check_every):
    # each label step reads the previous state once (self-looped edges),
    # so a batch of k steps references the edge cache k times; the
    # former union-based step doubled it per step (15 at k=3, 63 at k=5)
    from spark_extension_spark.operators import dedup

    refs = []

    class Recording(dedup.LocalCheckpointCycler):
        def checkpoint(self, df):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            refs.append(plan.count("InMemoryRelation"))
            return super().checkpoint(df)

    monkeypatch.setattr(dedup, "LocalCheckpointCycler", Recording)
    # a 12-node chain: 12 steps to converge, so several batches
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    out = dedup.connected_components(
        edges, check_every=check_every, warn_single_use=False
    )
    assert {r["cluster_id"] for r in out.collect()} == {0}
    assert refs == [check_every] * -(-12 // check_every)


def test_connected_components_job_labels(spark):
    # every job the label loop launches names its phase; the caller's
    # description stays as the prefix
    from spark_extension_spark import connected_components
    from spark_extension_spark.session import job_description

    sc = spark.sparkContext._jsc.sc()

    def job_descriptions():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        out = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            d = job.description()
            out[job.jobId()] = d.get() if d.isDefined() else None
        return out

    before = set(job_descriptions())
    # diameter 4 at check_every=2: converges in the third batch
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1)], ["id_a", "id_b"]
    )
    with job_description("caller"):
        connected_components(edges, check_every=2, warn_single_use=False)
    labels = {
        d for j, d in job_descriptions().items() if j not in before
    }
    assert labels == {
        f"caller - connected_components:{phase}"
        for phase in ("edges", "batch1", "batch2", "batch3", "result")
    }

    # the star algorithm names its orientation job star0, then one
    # label per contraction round
    from spark_extension_spark import cc_stats_log

    cc_stats_log(clear=True)
    before = set(job_descriptions())
    with job_description("caller"):
        connected_components(edges, algorithm="star", warn_single_use=False)
    (stats,) = cc_stats_log(clear=True)
    rounds = stats["iterations"]
    assert rounds >= 2
    labels = {
        d for j, d in job_descriptions().items() if j not in before
    }
    assert labels == {
        f"caller - connected_components:{phase}"
        for phase in ["edges", "result"]
        + [f"star{r}" for r in range(rounds + 1)]
    }


def test_connected_components_unpersist_handle(spark):
    from spark_extension_spark import connected_components
    from spark_extension_spark.utils import UnpersistHandle

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    handle = UnpersistHandle()
    out = connected_components(edges, unpersist_handle=handle)
    assert out.count() == 2
    handle()  # releases the persisted labels without error


def test_connected_components_bad_algorithm(spark):
    import pytest
    from spark_extension_spark import connected_components

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(edges, algorithm="magic")


def test_near_dup_clusters_representative(spark):
    from spark_extension_spark import near_dup_clusters
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame([(7, 3), (3, 9), (20, 21)], ["id_a", "id_b"])
    clusters = near_dup_clusters(pairs, warn_single_use=False)
    reps = clusters.where(F.col("doc_id") == F.col("cluster_id"))
    assert {r["doc_id"] for r in reps.collect()} == {3, 20}
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id"))
    assert {r["doc_id"] for r in drop.collect()} == {7, 9, 21}


# -- incremental dedup vs an accepted corpus ---------------------------------


def test_dedup_against_drops_cross_corpus_exact_dups(spark):
    from spark_extension_spark.operators.dedup import dedup_against

    seen = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "hello world")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "The QUICK brown fox!"),   # normalized dup of 1
            (11, "hello world"),            # exact dup of 2
            (12, "completely fresh text"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(r["doc_id"] for r in dedup_against(new, seen).collect())
    assert got == [12]
    # duplicates within the batch survive (documented: compose exact_dedup)
    batch_dups = spark.createDataFrame(
        [(20, "same twice"), (21, "same twice")], ["doc_id", "text"]
    )
    assert dedup_against(batch_dups, seen).count() == 2


def test_near_dedup_against_drops_near_dups_keeps_fresh(spark):
    from spark_extension_spark.operators.dedup import near_dedup_against

    # 50 distinct tokens: the 2-token suffix leaves true jaccard ~48/51
    base = " ".join(f"word{i}" for i in range(50))
    seen = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [
            (10, base),                              # identical: est jaccard 1
            (11, base + " tiny suffix"),             # near dup
            (12, "totally different words entirely unrelated content here now"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        r["doc_id"]
        for r in near_dedup_against(new, seen, num_hashes=8, bands=4, threshold=0.6).collect()
    )
    assert got == [12]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="divisible"):
        near_dedup_against(new, seen, num_hashes=8, bands=3)


def test_near_dedup_against_unpersist_handles(spark):
    from spark_extension_spark.operators.dedup import near_dedup_against
    from spark_extension_spark.utils import UnpersistHandle

    seen = spark.createDataFrame([(1, "one two three four five six")], ["doc_id", "text"])
    new = spark.createDataFrame([(2, "seven eight nine ten eleven twelve")], ["doc_id", "text"])
    hn, hs = UnpersistHandle(), UnpersistHandle()
    out = near_dedup_against(
        new, seen, num_hashes=8, bands=4,
        new_unpersist_handle=hn, seen_unpersist_handle=hs,
    )
    assert out.count() == 1
    hn()  # handles are callables, matching the reference's API
    hs()


class TestNgramContainment:
    def test_subset_doc_scores_full_containment(self, spark):
        from spark_extension_spark.operators.dedup import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        padding = " ".join(f"tok{i}" for i in range(200))
        df = spark.createDataFrame(
            [(1, base), (2, base + " " + padding)], ["doc_id", "text"]
        )
        got = ngram_containment_pairs(df, threshold=0.9).collect()
        assert len(got) == 1
        r = got[0]
        assert (r["id_a"], r["id_b"]) == (1, 2)
        assert r["containment"] == 1.0  # every shingle of 1 appears in 2
        # the same pair is invisible to Jaccard at any useful threshold
        jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
        assert jac == []

    def test_disjoint_docs_absent(self, spark):
        from spark_extension_spark.operators.dedup import ngram_containment_pairs

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "one two three four")],
            ["doc_id", "text"],
        )
        assert ngram_containment_pairs(df, threshold=0.1).count() == 0


# ---------------------------------------------------------------------------
# paragraph_dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def paragraph_docs(spark):
    footer = "subscribe to our newsletter today"
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma\nunique middle one\n" + footer),
            (2, "delta epsilon zeta\n" + footer),
            (3, "eta theta iota\nunique middle three\n" + footer),
            (4, "solo document with no boilerplate at all"),
            (5, "\n\nonly empties around me\n\n"),
        ],
        ["doc_id", "text"],
    )


def test_paragraph_dedup_removes_corpus_boilerplate(paragraph_docs):
    from spark_extension_spark.operators.dedup import paragraph_dedup

    out = {r["doc_id"]: r for r in paragraph_dedup(paragraph_docs).collect()}
    assert out[1]["text"] == "alpha beta gamma\nunique middle one"
    assert out[1]["n_paragraphs"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["text"] == "delta epsilon zeta"
    assert out[3]["text"] == "eta theta iota\nunique middle three"
    # untouched doc survives verbatim
    assert out[4]["text"] == "solo document with no boilerplate at all"
    assert out[4]["n_removed"] == 0
    # empty paragraphs are never counted as duplicates
    assert out[5]["n_removed"] == 0
    assert "only empties around me" in out[5]["text"]


def test_paragraph_dedup_keep_first(paragraph_docs):
    from spark_extension_spark.operators.dedup import paragraph_dedup

    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(paragraph_docs, keep_first=True).collect()
    }
    # first occurrence (doc 1, last position) survives; later ones removed
    assert out[1]["text"].endswith("subscribe to our newsletter today")
    assert out[1]["n_removed"] == 0
    assert out[2]["n_removed"] == 1
    assert out[3]["n_removed"] == 1


def test_paragraph_dedup_order_and_threshold(spark):
    from spark_extension_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "a b c\nx y z\na b c"), (2, "x y z")], ["doc_id", "text"]
    )
    # min_repeat=3: "a b c" appears twice (same doc) -> below threshold, kept
    out = {r["doc_id"]: r for r in paragraph_dedup(df, min_repeat=3).collect()}
    assert out[1]["text"] == "a b c\nx y z\na b c"
    # min_repeat=2 drops both dup groups, order of survivors preserved
    out2 = {r["doc_id"]: r for r in paragraph_dedup(df, min_repeat=2).collect()}
    assert out2[1]["text"] == "" and out2[1]["n_removed"] == 3


def test_dedup_keep_best(spark):
    from spark_extension_spark.operators.dedup import dedup_keep_best

    # cluster {1,2,3} via explicit pairs; 4 is a singleton
    df = spark.createDataFrame(
        [(1, "one", 0.5), (2, "two", 0.9), (3, "three", 0.9), (4, "four", 0.1)],
        ["doc_id", "text", "quality"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    out = {r["doc_id"]: r for r in
           dedup_keep_best(df, "quality", pairs=pairs, warn_single_use=False).collect()}
    # quality tie between 2 and 3 -> smallest id (2) wins; singleton kept
    assert set(out) == {2, 4}
    assert out[2]["cluster_id"] == 1 and out[2]["cluster_size"] == 3
    assert out[4]["cluster_id"] == 4 and out[4]["cluster_size"] == 1


def test_keep_best_and_splits_unpersist_handle(spark, docs):
    # one plain handle threaded through the COMPOSED pipelines must
    # collect every internal cache (shingles, CC labels, labeled corpus)
    # without tripping set_dataframe's single-shot guard, and a single
    # call must return storage to baseline
    from spark_extension_spark.operators.dedup import (
        dedup_keep_best,
        leakage_safe_splits,
    )
    from spark_extension_spark.utils import UnpersistHandle

    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    scored = docs.withColumn("quality", F.length("text").cast("double"))
    # set-based, not count-based: earlier tests' leftovers may be GC'd
    # concurrently, so assert only that NOTHING NEW survives the release
    before = cached_ids()

    h = UnpersistHandle()
    dedup_keep_best(scored, "quality", threshold=0.5, unpersist_handle=h).collect()
    assert cached_ids() - before  # pipeline did cache something
    h(blocking=True)
    assert cached_ids() <= before

    h2 = UnpersistHandle()
    leakage_safe_splits(
        docs, {"train": 0.8, "test": 0.2}, threshold=0.5, unpersist_handle=h2
    ).collect()
    h2(blocking=True)
    assert cached_ids() <= before


def test_dedup_keep_best_self_computed_pairs(spark, docs):
    from spark_extension_spark.operators.dedup import dedup_keep_best

    scored = docs.withColumn("quality", F.length("text").cast("double"))
    kept = {r["doc_id"] for r in
            dedup_keep_best(scored, "quality", threshold=0.5, warn_single_use=False).collect()}
    # docs 1,2,3 are near-dups (cluster of 3): longest (2: BASE + '.')
    # survives -- 1 and 3 tie on content length but 2 has the extra dot
    assert 4 in kept and 5 in kept
    assert len(kept & {1, 2, 3}) == 1


def test_precomputed_clusters_shared_across_consumers(spark, docs):
    # the share-one-CC hook: run connected components ONCE, feed the
    # result to both keep-best and leakage-safe splits; outputs must be
    # identical to each consumer computing its own clustering, and the
    # propagation loop must run exactly once (cc stats ledger)
    from spark_extension_spark.operators.dedup import (
        cc_stats_log,
        dedup_keep_best,
        leakage_safe_splits,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    scored = docs.withColumn("quality", F.length("text").cast("double"))
    own_kept = dedup_keep_best(
        scored, "quality", threshold=0.5, warn_single_use=False
    ).collect()
    own_splits = leakage_safe_splits(
        docs, {"train": 0.8, "test": 0.2}, threshold=0.5, warn_single_use=False
    ).collect()

    cc_stats_log(clear=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
    shared = near_dup_clusters(pairs, warn_single_use=False)
    kept = dedup_keep_best(
        scored, "quality", clusters=shared, warn_single_use=False
    ).collect()
    splits = leakage_safe_splits(
        docs, {"train": 0.8, "test": 0.2}, clusters=shared, warn_single_use=False
    ).collect()
    assert len(cc_stats_log()) == 1  # one propagation loop fed both

    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(kept) == key(own_kept)
    assert key(splits) == key(own_splits)


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------


def _ref_winnow(text, k, w):
    """Reference implementation of robust winnowing (min per window,
    rightmost on ties) for cross-checking."""
    import hashlib
    import re as _re

    toks = [t for t in _re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if t]
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % (2**31) for g in grams]
    n = len(hs)
    if n < w:
        m = min(hs)
        return {(max(i for i in range(n) if hs[i] == m), m)}
    sel = set()
    for p in range(w - 1, n):
        m = min(hs[p - w + 1 : p + 1])
        rp = max(i for i in range(p - w + 1, p + 1) if hs[i] == m)
        sel.add((rp, m))
    return sel


def test_winnow_matches_reference(spark):
    from spark_extension_spark.operators.dedup import winnow_fingerprints

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely different words entirely here nothing shared at all"),
        (3, "short doc"),
        (4, "tiny"),
        (5, "the quick brown fox jumps over a different ending part now ok"),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {}
    for r in winnow_fingerprints(df, k=3, window=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["hash"]))
    for did, text in docs:
        assert got.get(did, set()) == _ref_winnow(text, 3, 4), did


def test_winnow_guarantee_shared_substring(spark):
    """Any shared run of >= window + k - 1 tokens must produce at least
    one shared fingerprint — the winnowing guarantee."""
    from spark_extension_spark.operators.dedup import winnow_fingerprints

    core = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w + k - 1
    df = spark.createDataFrame(
        [
            (1, "prefix one two " + core + " suffix here now"),
            (2, "other intro words " + core + " and another tail"),
        ],
        ["doc_id", "text"],
    )
    got = {}
    for r in winnow_fingerprints(df, k=3, window=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["hash"])
    assert got[1] & got[2]


def test_winnow_partitioning_independent(spark, sf_dir):
    from spark_extension_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    a = sorted(map(tuple, winnow_fingerprints(docs, k=3, window=4).collect()))
    b = sorted(
        map(tuple, winnow_fingerprints(docs.repartition(9), k=3, window=4).collect())
    )
    assert a == b


def test_winnow_rejects_bad_params(spark):
    from spark_extension_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winnow_fingerprints(df, k=0, window=4)


def test_winnow_overlap_pairs_detects_copies(spark):
    from spark_extension_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    core = " ".join(f"tok{i}" for i in range(30))
    docs = [
        (1, "intro words here " + core + " closing remarks"),
        (2, "different opening " + core + " other ending"),
        (3, "entirely unrelated content about something else completely here"),
    ]
    fp = winnow_fingerprints(spark.createDataFrame(docs, ["doc_id", "text"]))
    pairs = winnow_overlap_pairs(fp, min_shared=2).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_a"], p["id_b"]) == (1, 2)
    assert p["overlap"] > 0.5
    assert p["shared"] <= min(p["size_a"], p["size_b"])


def test_winnow_overlap_cross_corpus(spark):
    from spark_extension_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    bench = spark.createDataFrame(
        [(100, "the exact benchmark question text appears verbatim here today")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "padding words the exact benchmark question text appears verbatim here today trailing"),
            (2, "clean document with none of that material present at all okay"),
        ],
        ["doc_id", "text"],
    )
    pairs = winnow_overlap_pairs(
        winnow_fingerprints(corpus), winnow_fingerprints(bench), min_shared=1
    ).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 100)}


def test_duplicate_source_matrix(spark):
    from spark_extension_spark.operators.dedup import duplicate_source_matrix

    rows = [
        (1, "web", "shared content one"),
        (2, "wiki", "shared content one"),     # dup across web/wiki
        (3, "books", "unique content here"),
        (4, "web", "another shared thing"),
        (5, "books", "another shared thing"),  # dup across web/books
        (6, "wiki", "Shared   CONTENT one!"),  # normalized dup of 1/2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in duplicate_source_matrix(df).collect()
    }
    # wiki's two copies of "shared content one" count once (distinct contents)
    assert got == {("web", "wiki"): 1, ("books", "web"): 1}


def test_duplicate_source_matrix_three_way_content(spark):
    # a content carried by 3 sources must emit all C(3,2)=3 ordered
    # pairs (the array-combination pair generator, round 10), and a
    # content duplicated many times within one source still counts once
    from spark_extension_spark.operators.dedup import duplicate_source_matrix

    rows = (
        [(i, "a", "same text") for i in range(5)]
        + [(10, "b", "same text"), (11, "c", "same text")]
        + [(12, "c", "only here")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in duplicate_source_matrix(df).collect()
    }
    assert got == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def test_pagerank_mass_conserved_and_authority(spark):
    import pyspark.sql.functions as F
    from spark_extension_spark.operators.graph import pagerank

    # star graph: everyone links to hub 0; hub links to 1
    edges = [(i, 0) for i in range(1, 10)] + [(0, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    pr = {r["id"]: r["rank"] for r in pagerank(df, iterations=20).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9          # mass conserved
    assert pr[0] == max(pr.values())                   # hub dominates
    assert pr[1] > pr[2]                               # hub's target beats leaves


def test_pagerank_dangling_mass_redistributed(spark):
    from spark_extension_spark.operators.graph import pagerank

    # 0 -> 1, 1 dangles: without redistribution total mass decays
    df = spark.createDataFrame([(0, 1)], ["src", "dst"])
    pr = {r["id"]: r["rank"] for r in pagerank(df, iterations=30).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9


def test_pagerank_observed_dangling_matches_inplan(spark):
    # round-13: with checkpoint_every=1 the dangling mass rides each
    # checkpoint's Observation and enters the next round as a literal;
    # with sparser cadences the in-plan broadcast path is used for
    # rounds whose predecessor did not checkpoint, and with
    # checkpoint_every=0 it is used everywhere.  All cadences must be
    # bit-identical (the observed literal IS the broadcast value).
    from spark_extension_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3) % 11) for i in range(30)] + [(11, 12)], ["src", "dst"]
    )
    a = sorted(map(tuple, pagerank(edges, iterations=5, checkpoint_every=1).collect()))
    b = sorted(map(tuple, pagerank(edges, iterations=5, checkpoint_every=2).collect()))
    c = sorted(map(tuple, pagerank(edges, iterations=5, checkpoint_every=0).collect()))
    assert a == b == c


def test_pagerank_partitioning_independent(spark):
    import pyspark.sql.functions as F
    from spark_extension_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(40)], ["src", "dst"]
    )
    a = sorted(map(tuple, pagerank(edges, iterations=5).collect()))
    b = sorted(map(tuple, pagerank(edges.repartition(9), iterations=5).collect()))
    assert a == b


def test_pagerank_rejects_bad_params(spark):
    import pytest as _pytest
    from spark_extension_spark.operators.graph import pagerank

    df = spark.createDataFrame([(0, 1)], ["src", "dst"])
    with _pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with _pytest.raises(ValueError):
        pagerank(df, damping=1.5)


def test_pagerank_unpersist_handle_releases_caches(spark):
    from spark_extension_spark.operators.graph import pagerank
    from spark_extension_spark.utils import UnpersistHandle

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src", "dst"])

    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    # set-based, not count-based: earlier tests' leftovers may be GC'd
    # concurrently, so assert only that NOTHING NEW survives the release
    before = cached_ids()
    handle = UnpersistHandle()
    # iterations=3 so localCheckpoint generations fire: the handle must
    # free the final generation too (add_callback, round 6), not just
    # the persisted frames
    assert pagerank(df, iterations=3, unpersist_handle=handle).count() == 3
    assert cached_ids() - before
    handle()
    assert not (cached_ids() - before)


def test_dedup_report_classifies_duplication(spark):
    from spark_extension_spark.operators.dedup import dedup_report

    rows = [
        (1, "web", "unique web content one"),
        (2, "web", "repeated inside web"),
        (3, "web", "repeated inside web"),       # in-feed dup
        (4, "web", "mirrored across feeds"),
        (5, "wiki", "mirrored across feeds"),    # cross-feed dup
        (6, "wiki", "unique wiki content"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {r["stratum"]: r for r in dedup_report(df).collect()}
    web, wiki = got["web"], got["wiki"]
    assert web["n_docs"] == 4 and web["n_distinct"] == 3
    assert web["n_dup_docs"] == 3          # 2 in-feed copies + 1 mirrored
    assert web["n_cross_dup_docs"] == 1    # only the mirrored one
    assert wiki["n_dup_docs"] == 1 and wiki["n_cross_dup_docs"] == 1
    assert web["dup_frac"] == 0.75


class TestTriangleCounts:
    def test_planted_clique_and_path(self, spark):
        from spark_extension_spark.operators.graph import triangle_counts

        # K4 on {1,2,3,4} (4 triangles, each node in 3) + path 4-5-6 (none)
        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        edges = k4 + [(4, 5), (5, 6), (6, 5), (5, 5)]  # dup/reverse/self noise
        df = spark.createDataFrame(edges, ["src", "dst"])
        out = {r["id"]: r for r in triangle_counts(df).collect()}
        assert {i: out[i]["triangles"] for i in sorted(out)} == {
            1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0,
        }
        assert out[1]["clustering_coef"] == 1.0  # clique corner
        assert out[5]["clustering_coef"] == 0.0
        assert out[4]["degree"] == 4  # 3 clique neighbours + node 5

    def test_matches_brute_force(self, spark):
        import itertools

        from spark_extension_spark.operators.graph import triangle_counts

        # deterministic pseudo-random graph on 30 nodes
        edges = [
            (i, j)
            for i in range(30)
            for j in range(i + 1, 30)
            if (i * 31 + j * 17) % 7 == 0
        ]
        adj = {i: set() for i in range(30)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        expected = {
            i: sum(
                1
                for x, y in itertools.combinations(sorted(adj[i]), 2)
                if y in adj[x]
            )
            for i in range(30)
            if adj[i]
        }
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
        assert got == expected

    def test_partitioning_independent_and_unpersist(self, spark):
        from spark_extension_spark.operators.graph import triangle_counts
        from spark_extension_spark.utils import UnpersistHandle

        edges = [(i % 11, (i * 3) % 11) for i in range(60) if i % 11 != (i * 3) % 11]
        df = spark.createDataFrame(edges, ["src", "dst"])
        a = sorted(map(tuple, triangle_counts(df.coalesce(1)).collect()))
        h = UnpersistHandle()
        b = sorted(
            map(tuple, triangle_counts(df.repartition(7), unpersist_handle=h).collect())
        )
        assert a == b
        h()  # releases the persisted canonical edge list without error


class TestPrefixJaccard:
    def test_equals_inverted_index_formulation(self, spark, sf_dir):
        from conftest import load

        from spark_extension_spark.operators.dedup import (
            ngram_jaccard_pairs,
            prefix_jaccard_pairs,
        )

        docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
        brute = {
            (r["id_a"], r["id_b"], r["common"])
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=0.5, max_shingle_freq=None
            ).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], r["common"])
            for r in prefix_jaccard_pairs(docs, n=3, threshold=0.5).collect()
        }
        assert pref == brute  # lossless: prefix filter == full index join

    def test_low_threshold_long_prefixes_still_exact(self, spark):
        from spark_extension_spark.operators.dedup import (
            ngram_jaccard_pairs,
            prefix_jaccard_pairs,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "alpha beta gamma delta epsilon eta"),
                (3, "one two three four five six"),
                (4, "one two three four five seven"),
                (5, "totally different words here entirely now"),
            ],
            ["doc_id", "text"],
        )
        # threshold 0.1 exercises the ceil(t*size) FP edge (prefix = whole doc)
        for t in (0.1, 0.34, 0.9):
            brute = {
                (r["id_a"], r["id_b"])
                for r in ngram_jaccard_pairs(
                    docs, n=2, threshold=t, max_shingle_freq=None
                ).collect()
            }
            pref = {
                (r["id_a"], r["id_b"])
                for r in prefix_jaccard_pairs(docs, n=2, threshold=t).collect()
            }
            assert pref == brute

    def test_positional_filter_lossless_randomized(self, spark):
        # stress the round-10 positional + length filters: many short
        # docs built from a small token pool so pairs land on BOTH
        # sides of every threshold, with uneven lengths so the length
        # filter and remaining-window bounds actually bite
        import random

        from spark_extension_spark.operators.dedup import (
            ngram_jaccard_pairs,
            prefix_jaccard_pairs,
        )

        rng = random.Random(1234)
        pool = [f"w{i}" for i in range(25)]
        rows = [
            (i, " ".join(rng.choice(pool) for _ in range(rng.randint(5, 18))))
            for i in range(80)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        for t in (0.3, 0.5, 0.7, 0.85):
            brute = {
                (r["id_a"], r["id_b"], r["common"], r["size_a"], r["size_b"])
                for r in ngram_jaccard_pairs(
                    docs, n=2, threshold=t, max_shingle_freq=None
                ).collect()
            }
            pref = {
                (r["id_a"], r["id_b"], r["common"], r["size_a"], r["size_b"])
                for r in prefix_jaccard_pairs(docs, n=2, threshold=t).collect()
            }
            assert pref == brute, f"threshold {t}: filters lost/added pairs"

    def test_validation_and_handle(self, spark):
        import pytest as _pytest

        from spark_extension_spark.operators.dedup import prefix_jaccard_pairs
        from spark_extension_spark.utils import UnpersistHandle

        docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
        with _pytest.raises(ValueError, match="threshold"):
            prefix_jaccard_pairs(docs, threshold=0.0)
        h = UnpersistHandle()
        prefix_jaccard_pairs(docs, n=2, threshold=0.5, unpersist_handle=h).collect()
        h()


class TestLabelPropagation:
    def test_bridged_cliques_split_but_connected(self, spark):
        from spark_extension_spark.operators.dedup import connected_components
        from spark_extension_spark.operators.graph import label_propagation

        # two 5-cliques joined by one bridge edge: one component, two communities
        c1 = [(a, b) for a in range(5) for b in range(5) if a < b]
        c2 = [(a + 10, b + 10) for a in range(5) for b in range(5) if a < b]
        edges = spark.createDataFrame(c1 + c2 + [(4, 10)], ["src", "dst"])

        cc = connected_components(
            edges.withColumnRenamed("src", "id_a").withColumnRenamed("dst", "id_b"),
            warn_single_use=False,
        )
        assert cc.select("cluster_id").distinct().count() == 1

        labels = {r["id"]: r["label"] for r in label_propagation(edges, iterations=5).collect()}
        assert len(set(labels.values())) == 2
        assert len({labels[i] for i in range(5)}) == 1
        assert len({labels[i + 10] for i in range(5)}) == 1

    def test_matches_sql_oracle_and_partitioning(self, spark):
        import duckdb

        from spark_extension_spark.operators.graph import (
            label_propagation,
            label_propagation_sql,
        )

        edges = [(i % 23, (i * 7 + 3) % 23) for i in range(60)]
        edges = [e for e in edges if e[0] != e[1]]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = sorted(map(tuple, label_propagation(df, iterations=4).collect()))
        got2 = sorted(map(tuple, label_propagation(df.repartition(7), iterations=4).collect()))
        assert got == got2

        con = duckdb.connect()
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        sql = label_propagation_sql(
            f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", iterations=4
        )
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want

    def test_bad_iterations_raises(self, spark):
        import pytest as _pytest

        from spark_extension_spark.operators.graph import label_propagation

        df = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with _pytest.raises(ValueError):
            label_propagation(df, iterations=0)


class TestCheckpointLifecycle:
    # round-6 contract: the FINAL checkpoint generation's lifetime
    # follows the unpersist handle — kept (result recomputable) until
    # the handle fires, freed immediately without one (no per-call
    # storage accumulation), freed with everything else on failure

    def _cached_ids(self, spark):
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    def test_result_survives_cache_loss_with_handle(self, spark):
        from spark_extension_spark.operators.dedup import connected_components
        from spark_extension_spark.utils import UnpersistHandle

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
        )
        h = UnpersistHandle()
        out = connected_components(
            edges, max_iterations=10, check_every=1, unpersist_handle=h
        )
        want = sorted(map(tuple, out.collect()))
        # drop the result's own cache: a re-run recomputes through the
        # final checkpoint generation, live until the handle fires
        out.unpersist(True)
        assert sorted(map(tuple, out.collect())) == want
        h(blocking=True)

    def test_no_handle_calls_do_not_accumulate_storage(self, spark):
        # the final generation is freed immediately without a handle:
        # repeated calls must not grow cached-RDD count beyond the
        # persisted results themselves (regression pin for a measured
        # session-wide storage-pressure effect across a 149-query bench)
        from spark_extension_spark.operators.dedup import near_dup_clusters

        pairs = spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"])
        before = len(self._cached_ids(spark))
        outs = []
        for _ in range(3):
            out = near_dup_clusters(pairs, warn_single_use=False)
            out.count()
            outs.append(out)
        grown = len(self._cached_ids(spark)) - before
        assert grown <= 3  # one persisted result per call, nothing else
        for out in outs:
            out.unpersist(True)

    def test_failure_path_frees_all_generations(self, spark):
        from spark_extension_spark.operators.dedup import connected_components

        # a long path graph cannot converge in 2 label rounds
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 40)], ["id_a", "id_b"]
        )
        before = self._cached_ids(spark)
        with pytest.raises(RuntimeError):
            connected_components(edges, max_iterations=2, check_every=1)
        assert self._cached_ids(spark) <= before

    def test_callback_only_handle(self, spark):
        # operators that checkpoint but persist nothing (k_core)
        # register only a release callback: the handle must fire it
        # without requiring a DataFrame, while a handle holding nothing
        # at all still raises (reference message parity)
        from spark_extension_spark.operators.graph import k_core
        from spark_extension_spark.utils import UnpersistHandle

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3)], ["src", "dst"]
        )
        before = self._cached_ids(spark)
        h = UnpersistHandle()
        assert k_core(edges, k=2, rounds=3, unpersist_handle=h).count() == 3
        h(blocking=True)
        assert self._cached_ids(spark) <= before
        with pytest.raises(RuntimeError, match="set first"):
            UnpersistHandle()()


def test_connected_components_single_use_warning_controls(spark):
    import warnings as _warnings

    from spark_extension_spark import connected_components
    from spark_extension_spark.utils import UnpersistHandle

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    # no handle -> one discoverable warning
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        connected_components(edges).collect()
    assert any("single-use" in str(x.message) for x in w)
    # opt-out accepts the contract silently
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        connected_components(edges, warn_single_use=False).collect()
    assert not [x for x in w if "single-use" in str(x.message)]
    # a handle makes the result durable -> no warning either
    h = UnpersistHandle()
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        connected_components(edges, unpersist_handle=h).collect()
    assert not [x for x in w if "single-use" in str(x.message)]
    h()


def test_composed_dedup_ops_forward_warn_flag(spark):
    import warnings as _warnings

    from spark_extension_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        near_dup_clusters(pairs, warn_single_use=False).collect()
    assert not [x for x in w if "single-use" in str(x.message)]


def test_exact_dedup_null_text_keeps_one_representative(spark):
    from spark_extension_spark.operators.dedup import (
        duplicate_clusters,
        exact_dedup,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "hello"), (4, "hello")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [1, 3]  # one NULL representative, one 'hello'
    clusters = {r["content_hash"]: r for r in duplicate_clusters(df).collect()}
    assert len(clusters) == 2
    sizes = sorted(r["cluster_size"] for r in clusters.values())
    assert sizes == [2, 2]


def test_paragraph_dedup_null_text_passthrough(spark):
    from spark_extension_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc"), (3, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in paragraph_dedup(df, min_repeat=2).collect()}
    assert set(got) == {1, 2, 3}  # NULL-text doc does not vanish
    assert got[3]["text"] is None
    assert got[3]["n_paragraphs"] == 0 and got[3]["n_removed"] == 0
    assert got[1]["n_removed"] == 1 and got[1]["text"] == "b"


def test_observation_fulfilled_by_eager_local_checkpoint(spark):
    # Load-bearing assumption of the CC / k_core convergence reads:
    # Dataset.checkpoint routes through the action path, so an
    # Observation attached below an EAGER localCheckpoint is fulfilled
    # by the checkpoint job itself.  Observation.get blocks forever if
    # a Spark upgrade changes that, so pin it with a timeout here
    # instead of discovering it as a hung driver run.
    import threading

    from pyspark.sql import Observation

    df = spark.range(100).withColumn("label", F.col("id") % 3)
    obs = Observation()
    ck = df.observe(
        obs, F.count(F.when(F.col("label") == 0, 1)).alias("n")
    ).localCheckpoint(eager=True)
    got = {}
    t = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    t.start()
    t.join(timeout=60)
    assert got.get("n") == 34, (
        f"Observation not fulfilled by eager localCheckpoint (got {got}) — "
        f"the CC/k_core convergence reads would hang; restore a separate "
        f"count() action if Spark changed the checkpoint action path"
    )
    assert ck.count() == 100


def test_label_propagation_string_node_ids(spark):
    # the aggregate argmax negates the bounded COUNT (round-12 ADVICE
    # fix), so string/date/decimal ids take the same single code path
    # as longs — no window fallback, no Long.MIN_VALUE wrap.  Two
    # triangles joined by one bridge edge: each keeps its
    # lexicographically-smallest member as the community label.
    from spark_extension_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("x", "y"), ("y", "z"), ("x", "z"),
         ("c", "x")],
        ["src", "dst"],
    )
    got = {r["id"]: r["label"] for r in label_propagation(edges, iterations=4).collect()}
    assert None not in got.values()
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"

    # numeric ids take the aggregate path; same graph as integers must
    # produce the isomorphic communities
    int_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        ["src", "dst"],
    )
    got_i = {r["id"]: r["label"] for r in label_propagation(int_edges, iterations=4).collect()}
    assert got_i[1] == got_i[2] == got_i[3] == 1
    assert got_i[10] == got_i[11] == got_i[12] == 10


def test_weighted_sample_large_k_forwards_unpersist_handle(spark, monkeypatch):
    # the spillable global_top_n path persists the sorted corpus via
    # with_row_numbers; the handle must flow through so callers can
    # release it (the leak class UnpersistHandle exists to prevent)
    from spark_extension_spark.operators import sampling
    from spark_extension_spark.operators.sampling import weighted_sample
    from spark_extension_spark.utils import UnpersistHandle

    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    monkeypatch.setattr(sampling, "TOP_N_SPILL_THRESHOLD", 5)
    df = spark.createDataFrame([(i, float(i % 9 + 1)) for i in range(200)], ["id", "w"])
    before = cached_ids()
    h = UnpersistHandle()
    got = weighted_sample(df, 50, "w", "id", unpersist_handle=h).collect()
    assert len(got) == 50
    assert cached_ids() - before  # the spillable path cached the sort
    h(blocking=True)
    assert cached_ids() <= before
