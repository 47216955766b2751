"""Seeded generator for the ten engine input tables.

The engine reads ten parquet tables from one directory (``sources.tables``:
a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``). This module writes a directory of the same schema and
row counts per scale factor as the project's reference test data, and the
same value domains, from a seed alone, so the
benchmark needs no input outside its own checkout. The same
``(seed, sf)`` always gives byte-identical files.

Every column is drawn independently and uniformly over its domain, as in
the reference data, with two structured exceptions:

- ``lineitem.l_orderkey`` is uniform over the orders, so lines per order
  are Poisson-like (mean 4) and the co-purchase graph has real edges;
- documents are built as the reference corpus is (see ``_documents``):
  random texts over the 30 reference words, one in twenty then replaced
  by a copy of another document with ``" dup"`` appended. A draw is kept
  only if the engine's connected-components fixpoint on its
  near-duplicate graph takes ``DEDUP_ROUNDS`` rounds, as on the reference
  sf0.01 corpus, so the dedup job count is the same on every seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DUP = "dup"
# text.MINHASH_SEEDS when this generator was written; kept here so the
# data stays the same if the engine's hashing changes
_MINHASH_SEEDS = [f"s{i:02d}" for i in range(16)]
# Rounds of min-neighbour contraction (``text.dedup_cluster_cc``) on the
# near-duplicate graph of the reference sf0.01 corpus: 44,291 LSH-found
# pairs (51,493 with Jaccard >= 0.7), one ~400-document near-clique plus
# a few pairs. 33 of 40 draws of this generator take the same three
# rounds (38,400-50,400 pairs); the rest take four, one more ~11-job round.
DEDUP_ROUNDS = 3
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMB_DIM = 64
_DAY_US = 86_400_000_000


def _days_us(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, n) * _DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> list[str]:
    return [choices[i] for i in rng.choice(len(choices), n, p=p)]


def _popcount(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint32)
    return _POP16[x & 0xFFFF] + _POP16[x >> 16]


_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.int32)


def near_dup_pairs(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Both directions of every pair the engine's dedup finds
    (``text.dedup_minhash_pairs``): MinHash-LSH candidates, 4 bands of 4
    md5 minhashes, verified by token-set Jaccard >= 0.7."""
    vocab = _WORDS + [_DUP]
    index = {w: i for i, w in enumerate(vocab)}
    sets = [{index[w] for w in t.split()} for t in texts]
    present = np.zeros((len(texts), len(vocab)), dtype=bool)
    for d, toks in enumerate(sets):
        present[d, list(toks)] = True
    # the per-seed token hashes as ranks: min rank = min md5
    sig = np.stack([
        np.where(present, np.argsort(np.argsort(
            [hashlib.md5(f"{seed}:{w}".encode()).hexdigest() for w in vocab])), len(vocab)
        ).min(axis=1)
        for seed in _MINHASH_SEEDS
    ], axis=1)
    cand = np.zeros((len(texts), len(texts)), dtype=bool)
    for b in range(0, len(_MINHASH_SEEDS), 4):
        band = sig[:, b:b + 4]
        cand |= (band[:, None, :] == band[None, :, :]).all(axis=2)
    masks = np.array([sum(1 << i for i in toks) for toks in sets], dtype=np.uint32)
    inter = _popcount(masks[:, None] & masks[None, :])
    union = _popcount(masks[:, None] | masks[None, :])
    adj = cand & (10 * inter >= 7 * union)
    np.fill_diagonal(adj, False)
    return np.nonzero(adj)


def contraction_rounds(n: int, src: np.ndarray, dst: np.ndarray) -> int:
    """Rounds ``text.dedup_cluster_cc`` takes on the symmetric edge list
    ``(src, dst)`` over nodes ``0..n-1``: each round maps every node to
    min(itself, its least neighbour) and keeps the mapped edges that
    still join two nodes; the round that leaves none is counted."""
    rounds = 0
    while len(src):
        rounds += 1
        s = np.arange(n)
        np.minimum.at(s, src, dst)
        a, b = s[src], s[dst]
        src, dst = np.unique(np.stack([a[a != b], b[a != b]]), axis=1)
    return rounds


def _draw_texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(_WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    for i, j in rng.integers(0, n, (n // 20, 2)):
        if i != j:
            texts[i] = texts[j] + " " + _DUP
    return texts


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts drawn like the reference corpus, redrawn from the same
    generator until the dedup fixpoint takes ``DEDUP_ROUNDS`` rounds."""
    texts = _draw_texts(rng, n)
    while contraction_rounds(n, *near_dup_pairs(texts)) != DEDUP_ROUNDS:
        texts = _draw_texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, _EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), type=pa.float32()), _EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)``; row counts scale with ``sf``
    like the reference data (lineitem = 6,000,000 * sf)."""
    rng = np.random.default_rng(seed)
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_line = round(6_000_000 * sf)
    n_evt = round(1_000_000 * sf)
    n_user = round(15_000 * sf)
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32 = np.int32
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days_us("1995-01-01", 2404, rng, n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days_us("1995-01-02", 2498, rng, n_line)),
    })
    gaps = rng.exponential(30 * 86_400e6 / n_evt, n_evt).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_dataset(out_dir: str, seed: int, sf: float) -> str:
    """Write the ten tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
