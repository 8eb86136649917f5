"""Property-based tests (hypothesis) — beyond the reference's
example-based strategy: algebraic laws that must hold for arbitrary
data, checked on small generated frames."""

import math
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_extension_spark import diff, histogram, with_row_numbers
from spark_extension_spark.operators.dedup import minhash_signatures, shingles

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),          # id (collisions likely)
        st.one_of(st.none(), st.text(alphabet="abc xyz", max_size=8)),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
    ),
    min_size=0,
    max_size=25,
)

# 12 examples keeps the suite fast; export HYPOTHESIS_MAX_EXAMPLES for
# deeper one-off hunts (e.g. 100+ on a round-certification pass)
SETTINGS = settings(
    max_examples=int(os.environ.get("HYPOTHESIS_MAX_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    uniq = {}
    for rid, txt, num in rows:
        uniq[rid] = (rid, txt, num)  # unique ids: diff key semantics
    return spark.createDataFrame(list(uniq.values()) or [], "id int, txt string, num int")


@given(rows=ROWS)
@SETTINGS
def test_diff_self_is_all_nochange(spark, rows):
    df = _df(spark, rows)
    result = diff(df, df, "id").collect()
    assert all(r["diff"] == "N" for r in result)
    assert len(result) == df.count()


@given(left_rows=ROWS, right_rows=ROWS)
@SETTINGS
def test_diff_actions_partition_the_key_space(spark, left_rows, right_rows):
    left, right = _df(spark, left_rows), _df(spark, right_rows)
    result = diff(left, right, "id").collect()
    left_ids = {r["id"] for r in left.collect()}
    right_ids = {r["id"] for r in right.collect()}
    # one output row per key in the union; action determined by membership
    assert {r["id"] for r in result} == left_ids | right_ids
    for r in result:
        if r["diff"] == "I":
            assert r["id"] in right_ids - left_ids
        elif r["diff"] == "D":
            assert r["id"] in left_ids - right_ids
        else:
            assert r["id"] in left_ids & right_ids


@given(left_rows=ROWS, right_rows=ROWS)
@SETTINGS
def test_diff_is_antisymmetric(spark, left_rows, right_rows):
    left, right = _df(spark, left_rows), _df(spark, right_rows)
    fwd = {r["id"]: r["diff"] for r in diff(left, right, "id").collect()}
    rev = {r["id"]: r["diff"] for r in diff(right, left, "id").collect()}
    flip = {"I": "D", "D": "I", "C": "C", "N": "N"}
    assert rev == {k: flip[v] for k, v in fwd.items()}


@given(rows=ROWS)
@SETTINGS
def test_row_numbers_always_a_contiguous_permutation(spark, rows):
    df = _df(spark, rows)
    n = df.count()
    got = sorted(r["row_number"] for r in with_row_numbers(df).collect())
    assert got == list(range(1, n + 1))


@given(
    rows=ROWS,
    thresholds=st.lists(st.integers(min_value=-5, max_value=5), min_size=1, max_size=4, unique=True),
)
@SETTINGS
def test_histogram_counts_sum_to_non_null_rows(spark, rows, thresholds):
    df = _df(spark, rows)
    result = histogram(df, thresholds, "num").collect()[0]
    non_null = df.where("num is not null").count()
    assert sum(result) == non_null


@given(text=st.text(alphabet="ab c", max_size=30))
@SETTINGS
def test_minhash_signature_bounded_by_prime(spark, text):
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    sigs = minhash_signatures(df, num_hashes=4).collect()
    for row in sigs:
        for i in range(4):
            assert 0 <= row[f"mh_{i}"] < 2147483647


@given(text=st.text(alphabet="ab c", max_size=30), n=st.integers(min_value=1, max_value=4))
@SETTINGS
def test_shingle_count_law(spark, text, n):
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    tokens = [t for t in "".join(ch if ch.isalnum() else " " for ch in text.lower()).split() if t]
    expected = max(len(tokens) - n + 1, 0)
    got = shingles(df, n=n, distinct=False).count()
    assert got == expected


# ---------------------------------------------------------------------------
# round-4 operators: fuzzy join and sketch laws
# ---------------------------------------------------------------------------

WORDS = st.lists(
    st.text(alphabet="abcd", min_size=0, max_size=6),
    min_size=0,
    max_size=12,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(words=WORDS, d=st.integers(min_value=1, max_value=2))
@SETTINGS
def test_fuzzy_dedup_equals_brute_force(spark, words, d):
    from spark_extension_spark.operators.fuzzy import fuzzy_dedup_pairs

    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows or [], "id int, s string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_dedup_pairs(df, "id", "s", d).collect()
    }
    want = {
        (i, j, _lev(a, b))
        for (i, a) in rows
        for (j, b) in rows
        if i < j and _lev(a, b) <= d
    }
    assert got == want


def test_fuzzy_join_hint_paths_agree_and_typos_rejected(spark):
    # broadcast / merge / None produce the same pairs as the default
    # shuffle_hash pin (hints change physical shape, never semantics);
    # unknown hints fail loudly (Spark's analyzer only log-warns)
    import pytest

    from spark_extension_spark.operators.fuzzy import (
        fuzzy_dedup_pairs,
        fuzzy_join_levenshtein,
    )

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "abc"), (4, "xyz")], "id int, s string"
    )
    want = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_dedup_pairs(df, "id", "s", 1).collect()
    }
    assert want  # non-trivial
    for hint in ("broadcast", "merge", None):
        got = {
            (r["id_a"], r["id_b"], r["distance"])
            for r in fuzzy_dedup_pairs(df, "id", "s", 1, join_hint=hint).collect()
        }
        assert got == want, hint
    with pytest.raises(ValueError, match="join_hint"):
        fuzzy_dedup_pairs(df, "id", "s", 1, join_hint="broadcst")
    with pytest.raises(ValueError, match="join_hint"):
        fuzzy_join_levenshtein(df, df, "s", "s", 1, join_hint="shuffle")


def test_fuzzy_variant_partitions_validated(spark):
    # 0 is a bad width, not "unset", and a negative one must fail at the
    # call instead of deep inside Spark's repartition
    import pytest

    from spark_extension_spark.operators.fuzzy import (
        fuzzy_dedup_pairs,
        fuzzy_join_levenshtein,
    )

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "xyz")], "id int, s string"
    )
    for bad in (0, -1):
        with pytest.raises(ValueError, match="variant_partitions must be >= 1"):
            fuzzy_dedup_pairs(df, "id", "s", 1, variant_partitions=bad)
        with pytest.raises(ValueError, match="variant_partitions must be >= 1"):
            fuzzy_join_levenshtein(df, df, "s", "s", 1, variant_partitions=bad)
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_dedup_pairs(df, "id", "s", 1, variant_partitions=1).collect()
    }
    assert got == {(1, 2)}


@given(values=st.lists(st.integers(min_value=0, max_value=30), max_size=40))
@SETTINGS
def test_kmv_exact_below_capacity(spark, values):
    from spark_extension_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame([(v,) for v in values] or [], "v int")
    if not values:
        # ungrouped = global aggregate: one zero row on empty input
        # (same as SELECT COUNT(*) FROM empty), never an error
        row = kmv_distinct(df, "v", k=64).collect()[0]
        assert (row["n_distinct_est"], row["n_exact_capped"]) == (0.0, 0)
        return
    row = kmv_distinct(df, "v", k=64).collect()[0]
    # <= 31 distinct values, k = 64: the sketch saw everything -> exact
    assert row["n_distinct_est"] == float(len(set(values)))
    assert row["n_exact_capped"] == len(set(values))


@given(
    values=st.lists(st.integers(min_value=0, max_value=10 ** 6), min_size=1, max_size=40),
    splits=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_hll_merge_invariance(spark, values, splits):
    # the register sketch must give the SAME estimate no matter how the
    # input is partitioned (mergeability = max is associative)
    from spark_extension_spark.operators.sketches import hll_distinct

    df = spark.createDataFrame([(v,) for v in values], "v int")
    a = hll_distinct(df, "v", bucket_bits=4).collect()[0]
    b = hll_distinct(df.repartition(splits), "v", bucket_bits=4).collect()[0]
    assert a == b


@given(words=WORDS)
@SETTINGS
def test_cms_dominates_truth(spark, words):
    from pyspark.sql import functions as F

    from spark_extension_spark.operators.sketches import cms_counts

    df = spark.createDataFrame([(w,) for w in words if w] or [], "token string")
    if df.count() == 0:
        return
    keys = df.select("token").distinct()
    est = {
        r["token"]: r["est_count"]
        for r in cms_counts(df, "token", keys, depth=2, width=8).collect()
    }
    truth = {
        r["token"]: r["n"]
        for r in df.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    # CMS never undercounts, even at an adversarially tiny width
    assert set(est) == set(truth)
    for t, n in truth.items():
        assert est[t] >= n


# -- connected components vs pure-Python union-find ---------------------------

EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=1,
    max_size=25,
)


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component, for every node seen
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


@given(edges=EDGES)
@SETTINGS
def test_connected_components_matches_union_find(spark, edges):
    from spark_extension_spark import connected_components

    df = spark.createDataFrame(edges, "id_a int, id_b int")
    want = _union_find_labels(edges)
    for algorithm in ("label", "star"):
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                df, algorithm=algorithm, warn_single_use=False
            ).collect()
        }
        assert got == want, f"{algorithm}: {got} != {want}"


# -- as-of join vs pandas merge_asof ------------------------------------------

ASOF_CASE = st.tuples(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=12),
    st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=12),
)


@given(case=ASOF_CASE, direction=st.sampled_from(["backward", "forward", "nearest"]))
@SETTINGS
def test_asof_join_matches_pandas_merge_asof(spark, case, direction):
    import pandas as pd

    from spark_extension_spark.operators.asof import asof_join

    left_ts, right_ts = case
    left = spark.createDataFrame(
        [(i, t) for i, t in enumerate(sorted(left_ts))], "lid int, t int"
    )
    right = spark.createDataFrame(
        [(j, t, t * 10) for j, t in enumerate(sorted(set(right_ts)))],
        "rid int, t int, val int",
    )
    got = {
        r["lid"]: r["right_val"]
        for r in asof_join(left, right, on="t", direction=direction).collect()
    }
    lpd = pd.DataFrame({"lid": range(len(left_ts)), "t": sorted(left_ts)}).astype(
        "int64"
    )
    rpd = pd.DataFrame(
        {"t": sorted(set(right_ts)), "val": [t * 10 for t in sorted(set(right_ts))]}
    ).astype("int64")
    merged = pd.merge_asof(lpd, rpd, on="t", direction=direction)
    want = {
        int(r.lid): (None if pd.isna(r.val) else int(r.val))
        for r in merged.itertuples()
    }
    assert got == want


@given(
    values=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=30),
)
@SETTINGS
def test_running_total_prefix_sum_law(spark, values):
    # for ANY integer sequence (negatives included), the global running
    # total at position i equals the plain prefix sum — regardless of
    # how Spark partitions the data
    from spark_extension_spark import with_running_total

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(3)
    got = {
        r["id"]: r["run"]
        for r in with_running_total(df, "v", order=["id"], out="run").collect()
    }
    acc = 0
    for i, v in enumerate(values):
        acc += v
        assert got[i] == acc, (i, values)


@given(
    n=st.integers(min_value=1, max_value=25),
    chunk=st.integers(min_value=1, max_value=8),
    data=st.data(),
)
@SETTINGS
def test_chunk_documents_coverage_and_no_containment(spark, n, chunk, data):
    # chunking laws for any (n, chunk_tokens, overlap): every token is
    # covered, chunks appear in order, and no chunk is a subrange of
    # its predecessor (no 100%-duplicated text)
    from spark_extension_spark.operators.text import chunk_documents

    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    toks = [f"t{i}" for i in range(n)]
    df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
    out = [
        r["text"].split()
        for r in chunk_documents(df, chunk, overlap).orderBy("chunk_id").collect()
    ]
    covered = [t for c in out for t in c]
    assert set(covered) == set(toks), (n, chunk, overlap, out)
    stride = chunk - overlap
    for i, c in enumerate(out):
        assert c[0] == toks[i * stride]
        assert len(c) <= chunk
    for prev, cur in zip(out, out[1:]):
        assert not set(cur).issubset(set(prev)), (n, chunk, overlap, out)


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
@SETTINGS
def test_hilbert_index_injective_on_grid(spark, pts):
    # distinct grid points must map to distinct curve positions within
    # [0, 4^bits): the fold is a bijection on the full grid
    from spark_extension_spark.sources.layout import with_hilbert_value

    # pin the scaling: include the grid corners so min/max scaling is
    # the identity on 3-bit coordinates
    pts = sorted(set(pts) | {(0, 0), (7, 7)})
    df = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(pts)],
                               "id long, x int, y int")
    vals = [r["h_value"] for r in with_hilbert_value(df, ["x", "y"], bits=3).collect()]
    assert len(set(vals)) == len(pts)
    assert all(0 <= v < 64 for v in vals)
