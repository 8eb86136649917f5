"""DSIR-style importance weighting, Gumbel-top-k selection,
leakage-safe splits, and length-bucketed batching."""

import math

import pytest
from pyspark.sql import functions as F

from spark_extension_spark.operators.dedup import leakage_safe_splits
from spark_extension_spark.operators.importance import (
    hashed_gram_counts,
    importance_model,
    importance_weights,
    select_by_importance,
)
from spark_extension_spark.operators.packing import length_batches, padding_report

from conftest import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load(spark, sf_dir, "documents").cache()
    yield df
    # leaving this cached would hijack later plan-shape tests: Spark
    # substitutes the InMemoryRelation for any matching parquet scan
    df.unpersist()


def test_hashed_gram_counts_totals(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "one"), (3, "")], ["doc_id", "text"]
    )
    counts = hashed_gram_counts(df, buckets=64, n_max=2)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in counts.groupBy("doc_id").agg(F.sum("cnt").alias("n")).collect()
    }
    # 3 unigrams + 2 bigrams; 1 unigram + 0 bigrams; empty doc absent
    assert per_doc == {1: 5, 2: 1}


def test_gram_counts_deterministic_across_partitionings(docs):
    a = hashed_gram_counts(docs, buckets=128).collect()
    b = hashed_gram_counts(docs.repartition(7), buckets=128).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_model_covers_every_bucket(docs):
    model = importance_model(
        docs.filter("lang = 'en'"), docs, buckets=256, n_max=1
    )
    rows = model.collect()
    assert len(rows) == 256
    assert {r["bucket"] for r in rows} == set(range(256))
    assert all(math.isfinite(r["logratio"]) for r in rows)


def test_weights_favor_target_language(docs):
    """English documents must score higher on average than non-English
    under a target=English importance model — the point of DSIR."""
    model = importance_model(docs.filter("lang = 'en'"), docs, buckets=512)
    w = importance_weights(docs, model, buckets=512)
    joined = w.join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r["is_en"]: r["m"]
        for r in joined.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("logw").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_weights_cover_all_docs_and_handle_empty(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "hello hello")], ["doc_id", "text"]
    )
    model = importance_model(df.filter("doc_id = 1"), df, buckets=32)
    w = importance_weights(df, model, buckets=32)
    rows = {r["doc_id"]: r for r in w.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["n_grams"] == 0 and rows[2]["logw"] == 0.0


def test_select_by_importance_is_deterministic(docs):
    model = importance_model(docs.filter("lang = 'en'"), docs, buckets=256)
    w = importance_weights(docs, model, buckets=256)
    s1 = sorted(r["doc_id"] for r in select_by_importance(w, 25).collect())
    s2 = sorted(
        r["doc_id"] for r in select_by_importance(w.repartition(5), 25).collect()
    )
    assert len(s1) == 25
    assert s1 == s2


def test_select_by_importance_biases_toward_high_weight(spark):
    # two blocks of ids with logw +5 vs -5: selection should be
    # dominated by the high-weight block
    rows = [(i, 5.0 if i < 50 else -5.0) for i in range(100)]
    w = spark.createDataFrame(rows, ["doc_id", "logw"])
    picked = select_by_importance(w, 20, seed=9).collect()
    high = sum(1 for r in picked if r["doc_id"] < 50)
    assert high >= 18


def test_select_rejects_bad_n(spark):
    w = spark.createDataFrame([(1, 0.0)], ["doc_id", "logw"])
    with pytest.raises(ValueError):
        select_by_importance(w, 0)


def test_leakage_safe_splits_cluster_integrity(spark):
    base = [(i, f"totally unique document number {i} with filler {i * 37}") for i in range(40)]
    # plant near-duplicate pairs: same text plus a suffix
    dups = [(100 + i, base[i][1] + " tail") for i in range(10)]
    df = spark.createDataFrame(base + dups, ["doc_id", "text"])
    out = leakage_safe_splits(
        df, {"train": 0.7, "val": 0.15, "test": 0.15}, n=3, threshold=0.5,
    )
    rows = out.select("doc_id", "cluster_id", "split").collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    # every cluster maps to exactly one split — no straddling
    assert all(len(s) == 1 for s in by_cluster.values())
    # the planted duplicates actually clustered (otherwise the test is vacuous)
    clustered = [r for r in rows if r["cluster_id"] != r["doc_id"]]
    assert len(clustered) >= 10
    assert {r["split"] for r in rows} <= {"train", "val", "test"}


def test_length_batches_shape_and_order(spark):
    df = spark.createDataFrame(
        [(i, (i * 13) % 97 + 1) for i in range(100)], ["doc_id", "n"]
    )
    out = length_batches(df, "n", 16, id_col="doc_id").collect()
    assert len(out) == 100
    batches = {}
    for r in out:
        batches.setdefault(r["batch_id"], []).append(r["n"])
    assert set(batches) == set(range(7))  # ceil(100/16) = 7
    # longest-first: every batch's min length >= next batch's max length
    for b in range(6):
        assert min(batches[b]) >= max(batches[b + 1])
    sizes = [len(batches[b]) for b in range(7)]
    assert sizes == [16] * 6 + [4]


def test_length_batches_partitioning_independent(docs):
    sub = docs.select("doc_id", "n_chars")
    a = {r["doc_id"]: r["batch_id"] for r in length_batches(sub, "n_chars", 32, id_col="doc_id").collect()}
    b = {
        r["doc_id"]: r["batch_id"]
        for r in length_batches(sub.repartition(11), "n_chars", 32, id_col="doc_id").collect()
    }
    assert a == b


def test_padding_report_exact(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 8), (3, 6), (4, 5)], ["doc_id", "n"]
    )
    assigned = length_batches(df, "n", 2, id_col="doc_id")
    rep = {r["batch_id"]: r for r in padding_report(assigned, "n").collect()}
    # batch 0 = lengths {10, 8}: padded = 2*10 - 18 = 2
    assert rep[0]["max_len"] == 10 and rep[0]["padded_tokens"] == 2
    assert rep[0]["pad_frac"] == 2 / 20
    # batch 1 = lengths {6, 5}: padded = 2*6 - 11 = 1
    assert rep[1]["padded_tokens"] == 1 and rep[1]["pad_frac"] == 1 / 12


def test_length_batches_rejects_bad_batch_size(spark):
    df = spark.createDataFrame([(1, 5)], ["doc_id", "n"])
    with pytest.raises(ValueError):
        length_batches(df, "n", 0)
