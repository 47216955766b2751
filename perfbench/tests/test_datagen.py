from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen


def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def test_same_seed_same_bytes(tmp_path):
    a = datagen.write_dataset(str(tmp_path / "a"), 5, 0.001)
    b = datagen.write_dataset(str(tmp_path / "b"), 5, 0.001)
    c = datagen.write_dataset(str(tmp_path / "c"), 6, 0.001)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert sorted(os.listdir(a)) == sorted(f"{t}.parquet" for t in datagen.TABLES)


def test_row_counts_and_domains():
    t = datagen.make_tables(1, 0.01)
    rows = {k: v.num_rows for k, v in t.items()}
    assert rows == {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
                    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
                    "documents": 500, "embeddings": 500}
    li = t["lineitem"].to_pydict()
    assert max(li["l_orderkey"]) < 15000 and min(li["l_linenumber"]) >= 1
    docs = t["documents"].to_pydict()
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"


def test_schema_types(tmp_path):
    d = datagen.write_dataset(str(tmp_path / "d"), 2, 0.001)
    emb = pq.read_schema(os.path.join(d, "embeddings.parquet"))
    assert str(emb.field("embedding").type) == "list<element: float>"
    assert str(emb.field("label").type) == "int32"


def _slow_pairs(texts: list[str]) -> set[tuple[int, int]]:
    """dedup_minhash_pairs in plain Python: a pair is a candidate when one
    band of four md5 minhashes matches, and is kept at Jaccard >= 0.7."""
    sets = [set(x.split()) for x in texts]
    sig = [[min(hashlib.md5(f"{s}:{w}".encode()).hexdigest() for w in toks)
            for s in datagen._MINHASH_SEEDS] for toks in sets]
    return {(i, j) for i in range(len(sets)) for j in range(len(sets))
            if i != j and any(sig[i][b:b + 4] == sig[j][b:b + 4] for b in (0, 4, 8, 12))
            and len(sets[i] & sets[j]) * 10 >= 7 * len(sets[i] | sets[j])}


def _slow_rounds(edges: set[tuple[int, int]]) -> int:
    rounds = 0
    while edges:
        rounds += 1
        m = {}
        for a, b in edges:
            m[a] = min(m.get(a, a), b)
        edges = {(m[a], m[b]) for a, b in edges if m[a] != m[b]}
    return rounds


def test_dedup_rounds_matches_a_plain_lsh_and_contraction():
    rng = np.random.default_rng(11)
    for n in (60, 120):
        texts = datagen._draw_texts(rng, n)
        src, dst = datagen.near_dup_pairs(texts)
        pairs = set(zip(src.tolist(), dst.tolist()))
        assert pairs == _slow_pairs(texts)
        assert datagen.contraction_rounds(n, src, dst) == _slow_rounds(pairs)


def test_documents_are_drawn_like_the_reference_corpus_on_every_seed():
    """Random texts over the reference words, one in twenty a copy of
    another with " dup" appended, and the same dedup fixpoint depth."""
    for seed in (1, 2, 3):
        texts = datagen.make_tables(seed, 0.01)["documents"].column("text").to_pylist()
        words = {w for t in texts for w in t.split()}
        assert words == set(datagen._WORDS) | {"dup"}
        dups = [t for t in texts if t.endswith(" dup")]
        assert 0 < len(dups) <= len(texts) // 20
        # a copy's source may itself be overwritten by a later copy
        assert sum(t[:-len(" dup")] in texts for t in dups) >= 0.9 * len(dups)
        assert datagen.contraction_rounds(len(texts), *datagen.near_dup_pairs(texts)) == datagen.DEDUP_ROUNDS
