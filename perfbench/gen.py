"""Seeded input generators with planted truth, built on numpy + pyarrow only.

Neither Spark nor the library under test is imported here, so a seed
always yields the same bytes and generation cost does not depend on the
code being measured.  Every generator returns ``(tables, truth)``:
``tables`` maps a table name to a :class:`pyarrow.Table` and ``truth``
holds what a correct pass must produce on those inputs.

Shapes are fixed per workload; the seed moves only values, ids and
which rows carry the planted properties, so run-to-run cost does not
drift with the seed.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- diff_groups_write: diff half ------------------------------------------

DIFF_ROWS = 150_000          # rows of the left snapshot
DIFF_INSERT_RATE = 0.02      # right-only rows, as a share of DIFF_ROWS
DIFF_DELETE_RATE = 0.02      # left-only rows
DIFF_CHANGE_RATE = 0.05      # rows present on both sides with one value changed
DIFF_VALUE_COLUMNS = (
    "amount", "price", "name", "category", "ts", "qty", "score", "flag", "note",
)
_CATEGORIES = [f"cat{i:02d}" for i in range(24)]
_TS_BASE_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z
HASH_MUL = 2_654_435_761     # Knuth's multiplicative hash, for key checksums

# -- dedup_iterative --------------------------------------------------------

DEDUP_DOCS = 2_000
DEDUP_WORDS = 92             # 90 distinct word 3-gram shingles per document
DEDUP_VOCAB = 50_000
DEDUP_CLIQUE_SIZES = (2, 3, 4, 5) * 30      # 120 cliques, diameter 1
DEDUP_CHAIN_LENGTHS = (3, 4, 5, 6) * 15  # 60 chains, diameter 2..5
CHAIN_EDITS = 3              # words replaced per chain step
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.8

# -- diff_groups_write: groups half ----------------------------------------

GROUP_KEYS = 300
GROUP_ZIPF_S = 1.1
GROUP_ROWS = 80_000
GROUP_DAYS = 8


def _rng(seed: int, workload: str) -> np.random.Generator:
    # the workload name is mixed in so two workloads never share a stream
    return np.random.default_rng([int(seed), zlib.crc32(workload.encode())])


def _decimal(unscaled: np.ndarray, precision: int, scale: int) -> pa.Array:
    """Decimal array from int64 unscaled values (two's-complement
    128-bit little-endian words, built without Python objects)."""
    words = np.empty((len(unscaled), 2), dtype=np.int64)
    words[:, 0] = unscaled
    words[:, 1] = np.where(unscaled < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(unscaled), [None, pa.py_buffer(words.tobytes())]
    )


def _with_nulls(arr: pa.Array, null_mask: np.ndarray) -> pa.Array:
    return pa.compute.if_else(pa.array(null_mask), pa.scalar(None, arr.type), arr)


def _prefixed(prefix: str, values: np.ndarray) -> pa.Array:
    return pa.compute.binary_join_element_wise(
        pa.scalar(prefix), pa.array(values).cast(pa.string()), ""
    )


def key_checksum(ids: np.ndarray) -> Tuple[int, int]:
    """(sum of ids, xor of the 32-bit multiplicative hash of ids) — the
    same two numbers the diff pass observes in Spark."""
    ids = np.asarray(ids, dtype=np.int64)
    hashed = (ids * HASH_MUL) & 0xFFFFFFFF
    return int(ids.sum()), int(np.bitwise_xor.reduce(hashed)) if len(ids) else 0


def gen_diff(seed: int) -> Tuple[Dict[str, pa.Table], dict]:
    """Two snapshots of a wide typed table keyed by ``id``.

    Planted: ``DIFF_DELETE_RATE`` of the left ids are missing on the
    right, ``DIFF_INSERT_RATE`` new ids appear on the right, and
    ``DIFF_CHANGE_RATE`` of the left ids carry one changed value column
    (null <-> value transitions included).  Truth: per diff type, the
    row count and the key checksum of :func:`key_checksum`.
    """
    rng = _rng(seed, "diff_changes")
    n = DIFF_ROWS
    n_ins = int(n * DIFF_INSERT_RATE)
    n_del = int(n * DIFF_DELETE_RATE)
    n_chg = int(n * DIFF_CHANGE_RATE)

    def columns(count: int) -> Dict[str, np.ndarray]:
        return {
            "amount": rng.integers(-10**9, 10**9, count),
            "price": rng.integers(0, 10**8, count),
            "name": rng.integers(0, 10**7, count),
            "category": rng.integers(0, len(_CATEGORIES), count),
            "ts": _TS_BASE_US + rng.integers(0, 365 * 86_400, count) * 10**6,
            "qty": rng.integers(0, 1_000, count).astype(np.int32),
            "qty_null": rng.random(count) < 0.1,
            "score": rng.integers(0, 10**6, count) / 64.0,
            "score_null": rng.random(count) < 0.1,
            "flag": rng.random(count) < 0.5,
            "note": rng.integers(0, 10**6, count),
            "note_null": rng.random(count) < 0.3,
        }

    left_ids = rng.permutation(n).astype(np.int64)
    left = columns(n)
    order = rng.permutation(n)
    deleted = order[:n_del]
    changed = order[n_del:n_del + n_chg]
    kept = np.sort(order[n_del:])

    right = {k: v[kept].copy() for k, v in left.items()}
    right_ids = left_ids[kept]
    # positions of the changed rows inside the right snapshot
    pos = np.searchsorted(kept, changed)
    which = rng.integers(0, len(DIFF_VALUE_COLUMNS), n_chg)
    for c, col in enumerate(DIFF_VALUE_COLUMNS):
        p = pos[which == c]
        if col in ("amount", "price", "name", "note", "ts"):
            right[col][p] += 1 if col != "ts" else 10**6
            if col == "note":  # a null note becomes a value instead
                right["note_null"][p] = False
        elif col == "category":
            right[col][p] = (right[col][p] + 1) % len(_CATEGORIES)
        elif col == "flag":
            right[col][p] = ~right[col][p]
        else:  # qty / score: toggle null <-> value
            right[f"{col}_null"][p] = ~right[f"{col}_null"][p]

    inserted_ids = np.arange(n, n + n_ins, dtype=np.int64)
    extra = columns(n_ins)
    right = {k: np.concatenate([right[k], extra[k]]) for k in right}
    right_ids = np.concatenate([right_ids, inserted_ids])
    shuffle = rng.permutation(len(right_ids))
    right = {k: v[shuffle] for k, v in right.items()}
    right_ids = right_ids[shuffle]

    def table(ids: np.ndarray, c: Dict[str, np.ndarray]) -> pa.Table:
        return pa.table({
            "id": pa.array(ids),
            "amount": _decimal(c["amount"], 18, 2),
            "price": _decimal(c["price"], 12, 4),
            "name": _prefixed("name-", c["name"]),
            "category": pa.array(np.array(_CATEGORIES)[c["category"]]),
            "ts": pa.array(c["ts"]).cast(pa.timestamp("us", tz="UTC")),
            "qty": _with_nulls(pa.array(c["qty"]), c["qty_null"]),
            "score": _with_nulls(pa.array(c["score"]), c["score_null"]),
            "flag": pa.array(c["flag"]),
            "note": _with_nulls(_prefixed("note ", c["note"]), c["note_null"]),
        })

    changed_ids = left_ids[changed]
    unchanged_ids = np.setdiff1d(left_ids[kept], changed_ids)
    truth = {
        "I": (n_ins, *key_checksum(inserted_ids)),
        "C": (n_chg, *key_checksum(changed_ids)),
        "D": (n_del, *key_checksum(left_ids[deleted])),
        "N": (len(unchanged_ids), *key_checksum(unchanged_ids)),
    }
    return {"left": table(left_ids, left), "right": table(right_ids, right)}, truth


def _spaced_positions(rng: np.random.Generator, count: int, length: int) -> np.ndarray:
    """``count`` interior word positions, pairwise >= SHINGLE_N apart,
    so each replaced word kills SHINGLE_N shingles no other edit kills."""
    slots = (length - 2 * (SHINGLE_N - 1)) // SHINGLE_N
    chosen = np.sort(rng.choice(slots, size=count, replace=False))
    return SHINGLE_N - 1 + chosen * SHINGLE_N


def gen_dedup(seed: int) -> Tuple[Dict[str, pa.Table], dict]:
    """A corpus of ``DEDUP_DOCS`` documents with planted near-duplicate
    groups among unrelated singletons.

    * Cliques: members share a base text and each replaces one word,
      so every member pair has Jaccard (90-6)/(90+6) = 0.875.
    * Chains: each step replaces ``CHAIN_EDITS`` fresh positions, so
      neighbours have Jaccard 81/99 = 0.82 and documents two steps
      apart 72/108 = 0.67 — below the 0.8 threshold.  A chain of length
      c has diameter c-1.  Ids increase along the chain, so the minimum
      label starts at one end and needs all c-1 propagation steps.

    Truth: ``groups`` — sorted member id lists, one per planted group;
    every member's cluster id is its group's smallest id.
    """
    rng = _rng(seed, "dedup_iterative")
    fresh = iter(range(10**9))

    def fresh_word() -> str:
        return f"f{next(fresh)}"

    def random_doc() -> List[str]:
        return [f"w{w}" for w in rng.integers(0, DEDUP_VOCAB, DEDUP_WORDS)]

    texts: List[List[str]] = []
    groups: List[List[int]] = []  # indices into texts
    for size in DEDUP_CLIQUE_SIZES:
        base = random_doc()
        members = []
        for p in _spaced_positions(rng, size, DEDUP_WORDS):
            doc = list(base)
            doc[p] = fresh_word()
            members.append(len(texts))
            texts.append(doc)
        groups.append(members)
    for length in DEDUP_CHAIN_LENGTHS:
        doc = random_doc()
        edits = _spaced_positions(rng, CHAIN_EDITS * (length - 1), DEDUP_WORDS)
        rng.shuffle(edits)
        members = [len(texts)]
        texts.append(doc)
        for step in range(length - 1):
            doc = list(doc)
            for p in edits[step * CHAIN_EDITS:(step + 1) * CHAIN_EDITS]:
                doc[p] = fresh_word()
            members.append(len(texts))
            texts.append(doc)
        groups.append(members)
    while len(texts) < DEDUP_DOCS:
        texts.append(random_doc())

    ids = rng.permutation(DEDUP_DOCS).astype(np.int64)
    for g in groups:  # ids ascend along each group (see docstring)
        ids[g] = np.sort(ids[g])
    shuffle = rng.permutation(DEDUP_DOCS)
    table = pa.table({
        "doc_id": pa.array(ids[shuffle]),
        "text": pa.array([" ".join(texts[i]) for i in shuffle]),
    })
    truth = {"groups": sorted(sorted(int(i) for i in ids[g]) for g in groups)}
    return {"docs": table}, truth


def zipf_sizes() -> np.ndarray:
    """Group size per key rank: ``GROUP_ROWS`` rows spread as 1/rank^s
    over ``GROUP_KEYS`` keys, every key at least one row.  Fixed across
    seeds, like the key of each rank, so the hash partition each large
    group lands in is the same for every seed."""
    weights = 1.0 / np.arange(1, GROUP_KEYS + 1) ** GROUP_ZIPF_S
    sizes = np.maximum(1, np.floor(weights / weights.sum() * GROUP_ROWS)).astype(np.int64)
    sizes[0] += GROUP_ROWS - sizes.sum()
    return sizes


def gen_groups(seed: int) -> Tuple[Dict[str, pa.Table], dict]:
    """Events ``(key, ts_us, day, value)`` with Zipf-skewed group sizes.

    ``ts_us`` is unique per row, so the running total per key ordered by
    ``ts_us`` is unambiguous.  Truth: the group sizes (the check itself
    recomputes the running totals with DuckDB from the input files).
    """
    rng = _rng(seed, "groups_write")
    sizes = zipf_sizes()
    keys = np.repeat(np.arange(GROUP_KEYS, dtype=np.int64), sizes)
    n = len(keys)
    seconds = rng.integers(0, GROUP_DAYS * 86_400, n)
    ts = _TS_BASE_US + seconds * 10**6 + rng.permutation(n)  # n < 10**6: unique
    shuffle = rng.permutation(n)
    table = pa.table({
        "key": pa.array(keys[shuffle]),
        "ts_us": pa.array(ts[shuffle]),
        "day": pa.array((ts[shuffle] // (86_400 * 10**6)).astype(np.int32)).cast(pa.date32()),
        "value": pa.array(rng.integers(-1_000, 1_000, n)[shuffle]),
    })
    return {"events": table}, {"sizes": sorted(sizes.tolist(), reverse=True)}


def gen_diff_groups(seed: int) -> Tuple[Dict[str, pa.Table], dict]:
    """The inputs of both halves of ``diff_groups_write``; each half
    draws from its own random stream."""
    diff_tables, diff_truth = gen_diff(seed)
    group_tables, group_truth = gen_groups(seed)
    return {**diff_tables, **group_tables}, {"diff": diff_truth, "groups": group_truth}


GENERATORS = {
    "diff_groups_write": gen_diff_groups,
    "dedup_iterative": gen_dedup,
}


def digest(tables: Dict[str, pa.Table]) -> str:
    """SHA-256 over the Arrow IPC bytes of every table, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_inputs(tables: Dict[str, pa.Table], directory: str, files: int) -> Dict[str, str]:
    """Write each table as ``files`` equal parquet files under
    ``directory/<name>/`` so a scan splits evenly over the cores."""
    paths = {}
    for name, table in tables.items():
        out = os.path.join(directory, name)
        os.makedirs(out, exist_ok=True)
        step = -(-table.num_rows // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i:03d}.parquet"))
        paths[name] = out
    return paths
