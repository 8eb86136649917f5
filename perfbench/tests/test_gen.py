"""Generators: seeded determinism and the planted input properties."""

import re

import numpy as np
import pytest

from perfbench import gen


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_digest_other_seed_differs(workload):
    make = gen.GENERATORS[workload]
    first, truth = make(7)
    again, truth_again = make(7)
    other, _ = make(8)
    assert gen.digest(first) == gen.digest(again)
    assert truth == truth_again
    assert gen.digest(first) != gen.digest(other)


def test_diff_planted_rates_match_the_tables():
    tables, truth = gen.gen_diff(3)
    left = tables["left"].to_pandas().set_index("id")
    right = tables["right"].to_pandas().set_index("id")
    n = gen.DIFF_ROWS
    assert len(left) == n
    inserted = right.index.difference(left.index)
    deleted = left.index.difference(right.index)
    both = left.index.intersection(right.index)
    a, b = left.loc[both], right.loc[both]
    differs = ~((a == b) | (a.isna() & b.isna())).all(axis=1)
    changed = both[differs.to_numpy()]
    assert len(inserted) == truth["I"][0] == int(n * gen.DIFF_INSERT_RATE)
    assert len(deleted) == truth["D"][0] == int(n * gen.DIFF_DELETE_RATE)
    assert len(changed) == truth["C"][0] == int(n * gen.DIFF_CHANGE_RATE)
    assert truth["N"][0] == len(both) - len(changed)
    for t, ids in (("I", inserted), ("D", deleted), ("C", changed)):
        assert truth[t][1:] == gen.key_checksum(ids.to_numpy())
    # the change rate covers null <-> value transitions
    assert ((a["qty"].isna() != b["qty"].isna()) & differs).any()


def _shingles(text):
    words = text.split()
    return {" ".join(words[i:i + gen.SHINGLE_N]) for i in range(len(words) - gen.SHINGLE_N + 1)}


def _jaccard(x, y):
    return len(x & y) / len(x | y)


def test_dedup_groups_are_cliques_and_chains_of_the_planted_diameter():
    tables, truth = gen.gen_dedup(5)
    docs = dict(zip(tables["docs"]["doc_id"].to_pylist(), tables["docs"]["text"].to_pylist()))
    assert len(docs) == gen.DEDUP_DOCS
    sh = {i: _shingles(t) for i, t in docs.items()}
    assert all(re.fullmatch(r"[a-z0-9 ]+", t) for t in docs.values())
    sizes = sorted(len(g) for g in truth["groups"])
    assert sizes == sorted(list(gen.DEDUP_CLIQUE_SIZES) + list(gen.DEDUP_CHAIN_LENGTHS))

    diameters = []
    for g in truth["groups"]:
        similar = {(a, b) for a in g for b in g if a < b
                   and _jaccard(sh[a], sh[b]) >= gen.JACCARD_THRESHOLD}
        if len(similar) == len(g) * (len(g) - 1) // 2:
            diameters.append(1)  # clique
            continue
        # a chain: ids ascend along it, only neighbours are similar
        assert similar == set(zip(g, g[1:]))
        diameters.append(len(g) - 1)
    assert max(diameters) > 3  # exceeds connected_components' check_every
    assert sorted(d for d in diameters if d > 1) == sorted(c - 1 for c in gen.DEDUP_CHAIN_LENGTHS)

    # no pair across groups or with a singleton reaches the threshold
    grouped = {i for g in truth["groups"] for i in g}
    rest = [i for i in docs if i not in grouped][:300]
    probe = [g[0] for g in truth["groups"]] + rest
    for i, a in enumerate(probe):
        for b in probe[i + 1:]:
            assert _jaccard(sh[a], sh[b]) < gen.JACCARD_THRESHOLD


def test_groups_zipf_skew_is_fixed_and_planted():
    sizes = gen.zipf_sizes()
    assert sizes.sum() == gen.GROUP_ROWS and (sizes >= 1).all()
    # 1/rank^s: the size ratio of ranks 10 and 100 is 10^s
    assert sizes[9] / sizes[99] == pytest.approx(10 ** gen.GROUP_ZIPF_S, rel=0.05)
    tables, truth = gen.gen_groups(11)
    events = tables["events"].to_pandas()
    assert sorted(events.groupby("key").size().tolist(), reverse=True) == truth["sizes"]
    assert truth["sizes"] == sorted(sizes.tolist(), reverse=True)
    assert events["ts_us"].is_unique
    days = (events["ts_us"] // (86_400 * 10**6)).to_numpy()
    assert np.array_equal(
        days, events["day"].map(lambda d: d.toordinal() - 719_163).to_numpy())
    assert len(np.unique(days)) == gen.GROUP_DAYS
