"""Property-based tests (hypothesis) for the custom operator kernels whose
semantics Spark doesn't provide natively — checked against brute-force
Python references on randomized small inputs.

These complement the DuckDB oracle gate: the oracle pins one dataset; these
pin the SEMANTICS over arbitrary inputs (tie-breaks, empty groups,
disconnected graphs, self-referential labels).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from insight_patents_spark.operators.graph import (  # noqa: E402
    CC_MAX_ROUNDS,
    _min_label_loop,
)
from insight_patents_spark.operators.joins import (  # noqa: E402
    asof_last_at_or_before,
)
from insight_patents_spark.session import conf_scope  # noqa: E402

_PROP = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (user_id, ts, event_id) rows; event_ids made unique by enumeration.
_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=0, max_size=25
)


@_PROP
@given(clicks=_events, purchases=_events)
def test_asof_matches_bruteforce(spark, clicks, purchases):
    """join_asof's core (asof_last_at_or_before) vs brute force."""
    c_rows = [(u, t, i) for i, (u, t) in enumerate(clicks)]
    p_rows = [(u, t, 1000 + i) for i, (u, t) in enumerate(purchases)]
    schema = "user_id long, ts long, event_id long"
    cdf = spark.createDataFrame(c_rows, schema) if c_rows else spark.createDataFrame(
        [], schema
    )
    pdf = spark.createDataFrame(p_rows, schema) if p_rows else spark.createDataFrame(
        [], schema
    )
    got = {
        (r.purchase_id, r.prior_click_id)
        for r in asof_last_at_or_before(cdf, pdf).collect()
    }
    want = set()
    for pu, pt, pid in p_rows:
        prior = [(t, i) for (u, t, i) in c_rows if u == pu and t <= pt]
        if prior:
            want.add((pid, max(prior)[1]))
    assert got == want


def _uf_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    return {v: min(u for u in touched if find(u) == find(v)) for v in touched}


_edges = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@_PROP
@given(edges=_edges)
def test_cc_matches_union_find(spark, edges):
    """graph_cc's core (_min_label_loop) vs a Python union-find."""
    rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    edf = spark.createDataFrame(rows, "src long, dst long").distinct()
    ndf = edf.select(F.col("src").alias("node")).distinct()
    got = {
        (r.node, r.lbl)
        for r in _min_label_loop(ndf, edf, CC_MAX_ROUNDS, "graph_cc").collect()
    }
    assert got == set(_uf_components(12, edges).items())


def _label_rounds(
    nodes: list[int], edges: list[tuple[int, int]]
) -> tuple[int, dict[int, int]]:
    """Python replay of one _min_label_loop round (propagate along
    src→dst, then jump): the number of label-changing rounds before the
    fixpoint, and the fixpoint labels."""
    lbl = {v: v for v in nodes}
    rounds = 0
    while True:
        new = dict(lbl)
        for s, d in edges:
            new[d] = min(new[d], lbl[s])
        nxt = {v: new[new[v]] for v in nodes}
        if nxt == lbl:
            return rounds, lbl
        lbl, rounds = nxt, rounds + 1


@pytest.mark.parametrize(
    "shape, n, edges, want_rounds",
    [
        # graph_cc-shaped: a symmetric 8-node path, ids along it; the
        # jump resolves label distance 2, 6, 14 after rounds 1-3
        ("symmetric", 8,
         [(k, k + 1) for k in range(7)] + [(k + 1, k) for k in range(7)], 3),
        # graph_scc-shaped: a directed 12-cycle with ids against edge
        # direction; the min advances one hop per round
        ("directed", 12, [((k + 1) % 12, k) for k in range(12)], 11),
    ],
)
def test_min_label_loop_bound_is_label_changing_rounds(
    spark, shape, n, edges, want_rounds
):
    """A graph needing exactly R label-changing rounds converges with
    max_rounds=R (round R+1 observes no change) and raises with R-1."""
    rounds, want = _label_rounds(list(range(n)), edges)
    assert rounds == want_rounds
    ndf = spark.createDataFrame([(v,) for v in range(n)], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = _min_label_loop(ndf, edf, rounds, "bound_test").collect()
    assert {r.node: r.lbl for r in got} == want
    with pytest.raises(RuntimeError, match="bound_test"):
        _min_label_loop(ndf, edf, rounds - 1, "bound_test")


def test_round_dp_rounds_like_duckdb(spark):
    """round_dp, round_dp_sql and py_round_dp == DuckDB ROUND(x, k) on
    doubles for every k the engine rounds to (== equates DuckDB's -0.0
    with Spark's 0.0: Spark's round has no negative zero). Spark's own
    round(x, k) fails this: it rounds x's shortest decimal string
    half-up, so it splits from DuckDB on exact binary halves and on
    about 7% of the doubles in [1e6, 2e6) at k = 9. Pinned: at
    x = 439.39270552749997, x * 1e9 is exactly 439392705527.5; Spark's
    round(x, 9) says ...527, DuckDB ...528."""
    import random

    import duckdb
    import pandas as pd

    from insight_patents_spark.functions.stable import (
        py_round_dp,
        round_dp,
        round_dp_sql,
    )

    digits = (0, 1, 2, 4, 6, 9)
    rng = random.Random(8)
    xs = [439.39270552749997, 0.0, 2.5, -2.5, 0.5, -0.5]
    xs += [s * 10 ** rng.uniform(-6, 9) for s in (1, -1) for _ in range(1000)]
    xs += [s * rng.uniform(1e6, 2e6) for s in (1, -1) for _ in range(500)]
    for k in digits:  # doubles x whose x * 10^k is exactly n + 1/2
        for _ in range(200):
            y = rng.choice((1, -1)) * (rng.randrange(10**7) + 0.5)
            x = y / 10**k
            if x * 10**k == y:
                xs.append(x)
    pdf = pd.DataFrame({"i": range(len(xs)), "x": xs})
    rows = (
        spark.createDataFrame(pdf)
        .select(
            "i",
            *(round_dp("x", k).alias(f"c{k}") for k in digits),
            *(F.expr(round_dp_sql("x", k)).alias(f"s{k}") for k in digits),
        )
        .collect()
    )
    con = duckdb.connect()
    want = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT i, {', '.join(f'ROUND(x, {k})' for k in digits)} FROM pdf"
        ).fetchall()
    }
    con.close()
    assert len(rows) == len(want) == len(xs)
    for r in rows:
        x, exp = xs[r.i], want[r.i]
        for k, w in zip(digits, exp):
            assert (r[f"c{k}"], r[f"s{k}"], py_round_dp(x, k)) == (w, w, w), (x, k)
    assert want[0][-1] == 439.392705528


# (g, x, y) groups for the co-moment kernel: mixed signs; a flat y
# (zero variance, so pearson is 0.0); and a large-mean, small-spread
# group whose sums are big but whose co-moments are small, where casting
# before the subtraction loses every significant digit. Its mean is
# 5e7 for bigint sums (n·Σxy passes 2^53) and 3.1e9 for the wide sums
# (each x·y, and so Σx·y, passes 2^63).
_COMOMENT_MEAN = {"narrow": 50_000_000, "wide": 3_100_000_000}


def _comoment_rows(mean):
    mixed = [(-5, 3), (2, -7), (4, 4), (-1, 0), (9, -2)]
    flat = [(-3, 6), (8, 6), (1, 6)]
    big = [(mean + dx, mean - 1_000 + dy) for dx, dy in
           [(0, 2), (7, -5), (-3, 13), (11, 1)]]
    return [(g, x, y) for g, grp in enumerate((mixed, flat, big)) for x, y in grp]


def _comoment_replay(rows):
    """Exact-integer reference: (g, comoment(x, y), cov_samp(x, y),
    cov_samp(x, x), ols_slope(x, y), pearson(x, y)) per group."""
    import math

    out = []
    for g in sorted({r[0] for r in rows}):
        xs = [x for gg, x, _ in rows if gg == g]
        ys = [y for gg, _, y in rows if gg == g]
        n = len(xs)

        def cm(a, b):
            return n * sum(p * q for p, q in zip(a, b)) - sum(a) * sum(b)

        cxy, cxx, cyy = cm(xs, ys), cm(xs, xs), cm(ys, ys)
        r = float(cxy) / math.sqrt(float(cxx) * float(cyy)) if cxx > 0 and cyy > 0 else 0.0
        out.append((
            g, cxy, float(cxy) / (float(n) * (n - 1)),
            float(cxx) / (float(n) * (n - 1)), float(cxy) / float(cxx), r,
        ))
    return out


@pytest.mark.parametrize("width", ["narrow", "wide"])
def test_comoment_kernel_equals_sql_twin(spark, width):
    """stable.moment_sums + comoment/cov_samp/ols_slope/pearson and their
    DuckDB twins agree with == per group, and both equal an exact-integer
    Python replay. The large-mean group fails any kernel that casts to
    double before forming n·Σxy − Σx·Σy."""
    import duckdb

    from insight_patents_spark.functions.stable import (
        comoment,
        comoment_sql,
        cov_samp,
        cov_samp_sql,
        moment_sums,
        moment_sums_sql,
        ols_slope,
        ols_slope_sql,
        pearson,
        pearson_sql,
    )

    wide = width == "wide"
    rows = _comoment_rows(_COMOMENT_MEAN[width])
    if wide:
        assert sum(x * y for g, x, y in rows if g == 2) > 2**63
    got = sorted(
        (r[0], int(r[1]), *r[2:])
        for r in spark.createDataFrame(rows, "g long, x long, y long")
        .groupBy("g")
        .agg(*moment_sums(["x", "y"], wide=wide))
        .select(
            "g",
            comoment("x", "y"),
            cov_samp("x", "y"),
            cov_samp("x", "x"),
            ols_slope("x", "y"),
            pearson("x", "y"),
        )
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g BIGINT, x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = sorted(
        (r[0], int(r[1]), *r[2:])
        for r in con.execute(
            f"""SELECT g, {comoment_sql("x", "y")}, {cov_samp_sql("x", "y")},
                   {cov_samp_sql("x", "x")}, {ols_slope_sql("x", "y")},
                   {pearson_sql("x", "y")}
            FROM (SELECT g, {moment_sums_sql(["x", "y"], wide=wide)}
                  FROM t GROUP BY g)"""
        ).fetchall()
    )
    con.close()
    assert got == want
    assert got == _comoment_replay(rows)
    assert got[1][-1] == 0.0


_docs = st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12).map(
        lambda toks: " ".join(toks)
    ),
    min_size=2,
    max_size=12,
)


@_PROP
@given(texts=_docs)
def test_minhash_pairs_sound_and_finds_identical(spark, tmp_path_factory, texts):
    """Soundness: every emitted pair's jaccard equals the Python set
    computation and is >= 0.7. Completeness floor: docs with IDENTICAL
    token sets have equal signatures, hence always collide and pair."""
    import os
    import uuid

    from insight_patents_spark.operators.text import dedup_minhash_pairs

    rows = [(i, t, "en", "prop", len(t)) for i, t in enumerate(texts)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path_factory.mktemp("mh")) + f"/{uuid.uuid4().hex[:8]}"
    os.makedirs(sf)
    d.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_pairs(spark, sf).collect()
    }
    sets = {i: set(t.split(" ")) for i, t in enumerate(texts)}

    def jac(a, b):
        return len(sets[a] & sets[b]) / len(sets[a] | sets[b])

    for (a, b), j in got.items():
        assert abs(j - jac(a, b)) < 1e-12 and j >= 0.7
    for a in sets:
        for b in sets:
            if a < b and sets[a] == sets[b]:
                assert (a, b) in got


def test_ann_lsh_sound_vs_numpy(spark, sf_dir):
    """Soundness of vec_ann_lsh on the real table: every returned
    (vec, neighbor) must share the md5-derived hyperplane bucket, and
    every cosine must equal the NumPy dot product; per-vector results
    must be the top-3 of that vector's bucket."""
    import numpy as np

    from insight_patents_spark.operators.vector import (
        _derived_planes,
        _plane_weights,
        vec_ann_lsh,
    )

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    planes = np.array(
        _plane_weights(_derived_planes(len(emb), occupancy=128, lo=8, hi=24))
    )
    bucket = {
        vid: int(sum(1 << p for p in range(len(planes)) if planes[p] @ v > 0))
        for vid, v in emb.items()
    }
    got = vec_ann_lsh(spark, sf_dir).collect()
    per_vec: dict[int, list] = {}
    for r in got:
        assert bucket[r.vec_id] == bucket[r.neighbor_id]
        assert abs(r.cosine - float(emb[r.vec_id] @ emb[r.neighbor_id])) < 1e-9
        per_vec.setdefault(r.vec_id, []).append((round(r.cosine, 9), r.neighbor_id))
    for vid, rows in per_vec.items():
        peers = [w for w in emb if w != vid and bucket[w] == bucket[vid]]
        want = sorted(
            ((round(float(emb[vid] @ emb[w]), 9), w) for w in peers),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        assert sorted(rows, key=lambda t: (-t[0], t[1])) == want


def test_pagerank_matches_numpy_power_iteration(spark, sf_dir, duck):
    """graph_pagerank vs an independent NumPy power iteration on the same
    min-support co-purchase graph (same damping, same fixed 10 rounds)."""
    import numpy as np

    from insight_patents_spark.operators.graph import (
        DAMPING,
        MIN_SUPPORT,
        PAGERANK_ITERS,
        graph_pagerank,
    )

    rows = duck.execute(f"""
        WITH pairs AS (
          SELECT a.l_partkey pa, b.l_partkey pb
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SUPPORT})
        SELECT pa, pb FROM pairs
    """).fetchall()
    nodes = sorted({v for e in rows for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj: list[list[int]] = [[] for _ in range(n)]
    for a, b in rows:
        adj[idx[a]].append(idx[b])
        adj[idx[b]].append(idx[a])
    deg = np.array([len(a) for a in adj], dtype=np.float64)
    r = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ITERS):
        nxt = np.full(n, (1.0 - DAMPING) / n)
        contrib = r / deg
        for i, outs in enumerate(adj):
            for j in outs:
                nxt[j] += DAMPING * contrib[i]
        r = nxt
    got = {row.node: row.rank for row in graph_pagerank(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    worst = max(abs(got[v] - r[idx[v]]) for v in nodes)
    assert worst < 1e-9, f"max abs rank diff {worst}"


def test_cms_estimate_dominates_exact(spark, sf_dir):
    """Count-min guarantee: the sketch estimate never undercounts, and
    equals the exact count whenever a user's 4 cells are collision-free."""
    from insight_patents_spark.operators.aggregates import agg_sketch_cms

    rows = agg_sketch_cms(spark, sf_dir).collect()
    assert rows, "sketch probe produced no rows"
    assert all(r.cms_est >= r.exact_n for r in rows)
    # on this data at least some users must be estimated exactly
    assert any(r.cms_est == r.exact_n for r in rows)


def test_doc_pack_is_gapless_per_lang(spark, sf_dir):
    """Packing invariant: per language the doc stream is contiguous —
    offsets reconstruct the running sum with no gaps or overlaps, and
    bin boundaries are consistent with straddle flags."""
    from insight_patents_spark.operators.text import (
        PACK_BUDGET,
        text_doc_pack,
    )

    out = text_doc_pack(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for rows in by_lang.values():
        rows.sort(key=lambda r: r.doc_id)
        expect_off = 0
        for r in rows:
            got = r.bin_id * PACK_BUDGET + r.bin_offset
            assert got == expect_off
            assert r.straddles == (r.bin_offset + r.n_tokens > PACK_BUDGET)
            expect_off += r.n_tokens


def test_context_chunks_cover_every_token(spark, sf_dir):
    """Chunking invariant: windows advance by the stride, every token of
    every doc lands in >=1 chunk, and only the final chunk may be short."""
    from insight_patents_spark.operators.text import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        text_context_chunk,
    )
    from insight_patents_spark.sources.tables import load

    n_tokens = {
        r.doc_id: r.n
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    chunks: dict[int, list] = {}
    for r in text_context_chunk(spark, sf_dir).collect():
        chunks.setdefault(r.doc_id, []).append(r)
    assert set(chunks) == set(n_tokens)
    for doc_id, rows in chunks.items():
        rows.sort(key=lambda r: r.chunk_no)
        n = n_tokens[doc_id]
        covered = (len(rows) - 1) * CHUNK_STRIDE + rows[-1].chunk_tokens
        assert covered >= n, (doc_id, covered, n)
        for r in rows[:-1]:
            assert r.chunk_tokens == CHUNK_SIZE
        assert rows[-1].chunk_tokens >= 1


def test_kcore_result_is_stable_subgraph(spark, sf_dir, duck):
    """After peeling, every surviving vertex's reported degree counts only
    surviving neighbors, and one more peel round removes nobody new at
    the driver data's fixpoint depth (5 rounds suffice here)."""
    from insight_patents_spark.operators.graph import (
        KCORE_K,
        graph_kcore,
    )

    rows = graph_kcore(spark, sf_dir).collect()
    assert rows
    assert all(r.deg >= KCORE_K for r in rows), "peeling did not converge"


def test_hll_sketch_estimate_accuracy(spark):
    """agg_hll_sketch's estimates must sit within HLL lgK=12 error bounds
    of the exact distinct counts (the oracle gate can't check this —
    DuckDB has no DataSketches), and the merged ALL row must estimate the
    union, not the sum of the groups."""
    from insight_patents_spark.operators.aggregates import (
        _hll_estimates,
        agg_hll_sketch,
    )

    sf_dir = "/root/testdata/sf0.01"
    rows = {r.event_type: r for r in _hll_estimates(spark, sf_dir).collect()}
    for et, r in rows.items():
        # exact_users on the ALL row already is the union count
        assert abs(r.est_users - r.exact_users) <= max(3, 0.05 * r.exact_users), (
            et,
            r,
        )
    # and the registered (oracle-checked) surface must report all in-bound
    flags = agg_hll_sketch(spark, sf_dir).collect()
    assert all(r.est_within_10pct for r in flags), flags


def test_ppr_matches_numpy_power_iteration(spark, sf_dir, duck):
    """graph_pagerank_personalized vs an independent NumPy power
    iteration with seed-restricted teleport (same seeds, same 6 rounds).
    Nodes never reached by the walk are absent from the Spark result and
    must have (near-)zero rank in the reference."""
    import numpy as np

    from insight_patents_spark.operators.graph import (
        DAMPING,
        MIN_SUPPORT,
        PPR_ITERS,
        graph_pagerank_personalized,
    )

    rows = duck.execute(f"""
        WITH pairs AS (
          SELECT a.l_partkey pa, b.l_partkey pb
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SUPPORT})
        SELECT pa, pb FROM pairs
    """).fetchall()
    nodes = sorted({v for e in rows for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj: list[list[int]] = [[] for _ in range(n)]
    for a, b in rows:
        adj[idx[a]].append(idx[b])
        adj[idx[b]].append(idx[a])
    deg = np.array([len(a) for a in adj], dtype=np.float64)
    seeds = [idx[v] for v in nodes if v % 500 == 0]
    assert seeds, "seed set empty at this sf"
    r = np.zeros(n)
    r[seeds] = 1.0 / len(seeds)
    tele = np.zeros(n)
    tele[seeds] = (1.0 - DAMPING) / len(seeds)
    for _ in range(PPR_ITERS):
        nxt = tele.copy()
        contrib = r / deg
        for i, outs in enumerate(adj):
            for j in outs:
                nxt[j] += DAMPING * contrib[i]
        r = nxt
    got = {
        row.node: row.rank
        for row in graph_pagerank_personalized(spark, sf_dir).collect()
    }
    for v in nodes:
        want = r[idx[v]]
        if v in got:
            assert abs(got[v] - want) < 1e-9, (v, got[v], want)
        else:
            # unreached: the operator's frame only contains contribution
            # receivers; the reference must agree it has no mass
            assert want < 1e-12, (v, want)


def test_pq_codes_match_numpy(spark, sf_dir):
    """vec_pq_codes histogram vs a NumPy brute-force encode with the
    same codebook rows (vec_id 1..8)."""
    import numpy as np

    from insight_patents_spark.operators.vector import vec_pq_codes
    from insight_patents_spark.sources.tables import load

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    cb = [emb[c] for c in range(1, 9)]
    from collections import Counter

    want: Counter = Counter()
    for v in emb.values():
        code = ""
        for s in range(4):
            sub = v[s * 16:(s + 1) * 16]
            d0 = float(((sub - cb[2 * s][s * 16:(s + 1) * 16]) ** 2).sum())
            d1 = float(((sub - cb[2 * s + 1][s * 16:(s + 1) * 16]) ** 2).sum())
            code += "0" if d0 <= d1 else "1"
        want[code] += 1
    got = {r.code: r.n_vectors for r in vec_pq_codes(spark, sf_dir).collect()}
    assert got == dict(want)


def test_zorder_buckets_are_local(spark, sf_dir):
    """Z-order locality: the top-4 z bits fix the top 2 bits of BOTH
    dimensions, so every coarse bucket's bounding box spans < 64 in x
    and in y — the property that makes min/max stats prune 2-D
    predicates."""
    from insight_patents_spark.operators.relational import sink_zorder

    rows = sink_zorder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.x_max - r.x_min < 64, r
        assert r.y_max - r.y_min < 64, r


def test_cdc_chunks_reconstruct_documents(spark, sf_dir):
    """CDC invariant: per doc, chunks tile [1, n_chars] exactly (no gap,
    no overlap) and concatenating the chunk substrings rebuilds the
    text — the property that makes chunk-digest dedup lossless."""
    from insight_patents_spark.operators.text import text_cdc_chunk
    from insight_patents_spark.sources.tables import load

    chunks = text_cdc_chunk(spark, sf_dir)
    # tile against length(text), NOT the n_chars metadata column —
    # FIXTURES.md warns n_chars need not equal length(text)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("text_len")
    )
    joined = (
        chunks.groupBy("doc_id")
        .agg(
            F.sum("chunk_len").alias("len_sum"),
            F.min("start").alias("min_start"),
            F.max(F.col("start") + F.col("chunk_len") - 1).alias("max_end"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .join(docs, "doc_id")
    )
    bad = joined.filter(
        (F.col("len_sum") != F.col("text_len"))
        | (F.col("min_start") != 1)
        | (F.col("max_end") != F.col("text_len"))
    )
    assert bad.count() == 0
    # spot-rebuild a few docs from their chunks
    sample = (
        chunks.join(docs.filter(F.col("doc_id") % 100 == 0), "doc_id")
        .withColumn(
            "piece", F.expr("substring(text, CAST(start AS INT), CAST(chunk_len AS INT))")
        )
        .groupBy("doc_id", "text")
        .agg(
            F.concat_ws(
                "", F.expr("transform(array_sort(collect_list(struct(chunk_idx, piece))), x -> x.piece)")
            ).alias("rebuilt")
        )
    )
    assert sample.filter(F.col("rebuilt") != F.col("text")).count() == 0


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    """Every vector lands in exactly one cluster and inertia is
    non-negative (sum of squared distances in micro-units)."""
    from insight_patents_spark.operators.vector import vec_kmeans
    from insight_patents_spark.sources.tables import load

    out = vec_kmeans(spark, sf_dir).collect()
    n_vec = load(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in out) == n_vec
    assert all(r.inertia >= 0 for r in out)


def test_gini_bounds(spark, sf_dir):
    """Gini coefficient of a non-negative distribution lies in [0, 1)."""
    from insight_patents_spark.operators.aggregates import agg_gini

    for r in agg_gini(spark, sf_dir).collect():
        assert 0.0 <= r.gini < 1.0, r


def test_heavy_hitters_exact_dominates_sample(spark, sf_dir):
    """The exact recount can only exceed the 10%-sample count."""
    from insight_patents_spark.operators.aggregates import agg_heavy_hitters

    rows = agg_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.exact_count >= r.sample_count for r in rows)


def test_backtest_folds_expand_monotonically(spark, sf_dir):
    """Rolling-origin property: each fold's train window strictly
    contains the previous fold's (event counts non-decreasing), and
    every fold has a non-empty test slice."""
    from insight_patents_spark.operators.relational import split_backtest_folds

    rows = split_backtest_folds(spark, sf_dir).collect()
    train = {r.fold: r.n_events for r in rows if r.split == "train"}
    test = {r.fold: r.n_events for r in rows if r.split == "test"}
    assert sorted(train) == [1, 2, 3, 4]
    assert all(train[f] < train[f + 1] for f in (1, 2, 3))
    assert all(test.get(f, 0) > 0 for f in (1, 2, 3, 4))


def test_hamming_sign_candidates_are_near(spark, sf_dir):
    """Binary-quantization soundness: every reported neighbor is within
    the Hamming threshold and each probe reports at most k=3 rows."""
    from collections import Counter

    from insight_patents_spark.operators.vector import vec_hamming_sign

    rows = vec_hamming_sign(spark, sf_dir).collect()
    assert rows
    assert all(r.hd <= 24 for r in rows)
    per_probe = Counter(r.vec_id for r in rows)
    assert max(per_probe.values()) <= 3


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every exact duplicate is a bloom hit (misses are
    guaranteed-new); and the filter actually filters (some non-dup docs
    miss)."""
    from insight_patents_spark.operators.text import dedup_bloom_prefilter

    rows = dedup_bloom_prefilter(spark, sf_dir).collect()
    assert rows
    assert all(r.bloom_hit for r in rows if r.exact_dup)
    assert any(not r.bloom_hit for r in rows if not r.exact_dup)


def test_clustering_coef_matches_bruteforce(spark, sf_dir):
    """graph_clustering_coef vs a pure-Python recount on the collected
    edge list (bounded: ~3.7k canonical pairs at test SF): per-node
    triangle counts and cc = 2T/(d(d-1)) must match exactly (cc to the
    operator's 9dp rounding); cc always in [0, 1]; deg<2 nodes get 0."""
    from insight_patents_spark.operators.graph import _pairs, graph_clustering_coef

    adj: dict[int, set[int]] = {}
    for r in _pairs(spark, sf_dir).collect():
        adj.setdefault(r.pa, set()).add(r.pb)
        adj.setdefault(r.pb, set()).add(r.pa)
    want = {}
    for v, nb in adj.items():
        deg = len(nb)
        tri = sum(len(adj[u] & nb) for u in nb) // 2
        cc = round(2.0 * tri / (deg * (deg - 1)), 9) if deg >= 2 else 0.0
        want[v] = (deg, tri, cc)
    got = {
        r.node: (r.degree, r.n_triangles, r.clustering_coef)
        for r in graph_clustering_coef(spark, sf_dir).collect()
    }
    assert got == want
    assert all(0.0 <= cc <= 1.0 for (_, _, cc) in got.values())


def test_streaks_match_bruteforce(spark, sf_dir):
    """win_streaks vs a pure-Python recount over distinct (user, day):
    islands of consecutive days, exact counts per user."""
    from insight_patents_spark.operators.sequences import win_streaks
    from insight_patents_spark.sources.tables import load

    days: dict = {}
    e = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    for r in e.collect():
        days.setdefault(r.user_id, []).append(r.day.toordinal())
    want = {}
    for u, ds in days.items():
        ds.sort()
        runs, cur = [], 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        want[u] = (len(runs), max(runs), sum(runs))
    got = {
        r.user_id: (r.n_streaks, r.longest_streak, r.active_days)
        for r in win_streaks(spark, sf_dir).collect()
    }
    assert got == want


def test_survival_curve_is_monotone_and_anchored(spark, sf_dir):
    """S(t) properties: S at the minimum lifetime is exactly 1 (every
    user survives to the shortest observed lifetime), n_surviving is
    strictly decreasing as lifetime grows (cumulative-from-the-top), and
    the largest per-lifetime increment sum equals the user count."""
    from insight_patents_spark.operators.sequences import agg_survival_curve
    from insight_patents_spark.sources.tables import load

    rows = sorted(
        agg_survival_curve(spark, sf_dir).collect(),
        key=lambda r: r.lifetime_days,
    )
    assert rows[0].survival == 1.0
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert rows[0].n_surviving == n_users
    for a, b in zip(rows, rows[1:]):
        assert b.n_surviving < a.n_surviving
        assert 0.0 < b.survival < a.survival <= 1.0


def test_rfm_buckets_are_monotone_quintiles(spark, sf_dir):
    """Bucket assignment properties: every bucket in 1..5; bucket is
    monotone non-decreasing in its metric; and each dimension's bucket
    counts are within one interpolation boundary of exact quintiles
    (each bucket holds >=10% of users on the test data)."""
    from insight_patents_spark.operators.sequences import agg_rfm_segments

    rows = agg_rfm_segments(spark, sf_dir).collect()
    n = len(rows)
    for metric, bucket in (
        ("recency", "r_bucket"),
        ("frequency", "f_bucket"),
        ("monetary", "m_bucket"),
    ):
        pairs = sorted((r[metric], r[bucket]) for r in rows)
        assert all(1 <= b <= 5 for _, b in pairs)
        assert all(b1 <= b2 for (_, b1), (_, b2) in zip(pairs, pairs[1:]))
        from collections import Counter

        per = Counter(b for _, b in pairs)
        assert all(per[b] >= 0.1 * n for b in per)


def test_km_matches_bruteforce(spark, sf_dir):
    """agg_survival_km vs a pure-Python Kaplan-Meier on the collected
    per-user durations: at-risk counts and death counts exact, survival
    equal to 9dp; survival strictly decreasing and in (0, 1); censored
    users never counted as deaths."""
    from insight_patents_spark.operators.sequences import agg_survival_km
    from insight_patents_spark.sources.tables import load

    e = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
            "event_type",
        )
        .collect()
    )
    per_user: dict = {}
    for r in e:
        t0, tl, fp = per_user.get(r.user_id, (r.us, r.us, None))
        t0, tl = min(t0, r.us), max(tl, r.us)
        if r.event_type == "purchase":
            fp = r.us if fp is None else min(fp, r.us)
        per_user[r.user_id] = (t0, tl, fp)
    H = 72
    durs = []
    for t0, tl, fp in per_user.values():
        fph = (fp - t0) // 3_600_000_000 if fp is not None else None
        if fph is not None and fph <= H:
            durs.append((fph, 1))
        else:
            durs.append((min((tl - t0) // 3_600_000_000, H), 0))
    from collections import Counter

    n_at = Counter()
    d_at = Counter()
    for t, death in durs:
        n_at[t] += 1
        d_at[t] += death
    want = {}
    s = 1.0
    remaining = len(durs)
    for t in sorted(n_at):
        d = d_at[t]
        if d > 0:
            s *= (remaining - d) / remaining
            want[t] = (remaining, d, round(s, 9))
        else:
            s *= 1.0
        remaining -= n_at[t]
    got = {
        r.hour: (r.n_at_risk, r.n_deaths, r.km_survival)
        for r in agg_survival_km(spark, sf_dir).collect()
    }
    assert got == want
    vals = [v for *_, v in (got[k] for k in sorted(got))]
    assert all(0.0 < b < a for a, b in zip(vals, vals[1:]))


def test_stream_streaks_equals_batch_twin(spark, sf_dir):
    """The streaming session-window islands must reproduce the batch
    gaps-and-islands result row-for-row (the batch-equal contract every
    AvailableNow exhibit rests on)."""
    from insight_patents_spark.operators.sequences import win_streaks
    from insight_patents_spark.streaming.queries import stream_streaks

    got = {
        r.user_id: (r.n_streaks, r.longest_streak, r.active_days)
        for r in stream_streaks(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n_streaks, r.longest_streak, r.active_days)
        for r in win_streaks(spark, sf_dir).collect()
    }
    assert got == want


def test_betweenness_matches_bruteforce(spark, sf_dir):
    """graph_betweenness vs a pure-Python depth-limited Brandes on the
    collected edge list: identical seed set, per-node seed counts exact,
    dependency scores bit-equal (both sides quantize each contribution
    to int64 nano-units with the same IEEE op chain, then take exact
    integer sums — order no longer matters on either side)."""
    import math
    from collections import defaultdict

    from insight_patents_spark.operators.graph import (
        _BETWEENNESS_DEPTH,
        DELTA_SCALE,
        _pairs,
        graph_betweenness,
    )

    adj = defaultdict(set)
    for r in _pairs(spark, sf_dir).collect():
        adj[r.pa].add(r.pb)
        adj[r.pb].add(r.pa)
    seeds = [v for v in adj if v % 250 == 0]
    bc = defaultdict(int)  # int64 nano-unit sums, exact
    n_seeds = defaultdict(int)
    for s in seeds:
        dist = {s: 0}
        sigma = {s: 1}
        layers = [[s]]
        for d in range(_BETWEENNESS_DEPTH):
            nxt = defaultdict(int)
            for u in layers[-1]:
                for v in adj[u]:
                    if v not in dist:
                        nxt[v] += sigma[u]
            for v in nxt:
                dist[v] = d + 1
            sigma.update(nxt)
            layers.append(sorted(nxt))
        dq = defaultdict(int)
        for d in range(_BETWEENNESS_DEPTH, 0, -1):
            for w in layers[d]:
                for u in adj[w]:
                    if dist.get(u) == d - 1:
                        # same IEEE op chain as both engines
                        dq[u] += math.floor(
                            (sigma[u] / sigma[w])
                            * (1.0 + dq[w] / float(DELTA_SCALE))
                            * float(DELTA_SCALE)
                        )
        for d in range(1, _BETWEENNESS_DEPTH + 1):
            for v in layers[d]:
                bc[v] += dq[v]
                n_seeds[v] += 1
    got = {r.node: (r.n_seeds, r.betweenness) for r in
           graph_betweenness(spark, sf_dir).collect()}
    assert set(got) == set(bc)
    for v, (ns, b) in got.items():
        assert ns == n_seeds[v]
        assert b == bc[v] / float(DELTA_SCALE), (v, b, bc[v])


def test_profile_metrics_are_consistent(spark, sf_dir):
    """Invariants of the column profile: distinct+nulls never exceed
    rows, exactly one typed min/max pair per column, min <= max."""
    from insight_patents_spark.operators.relational import profile_table

    rows = profile_table(spark, sf_dir).collect()
    assert len(rows) == 6
    for r in rows:
        assert 0 <= r.n_null <= r.n_rows
        assert 1 <= r.n_distinct <= r.n_rows
        num = r.min_num is not None
        assert num == (r.max_num is not None)
        assert (r.min_str is not None) == (r.max_str is not None)
        assert num != (r.min_str is not None)
        if num:
            assert r.min_num <= r.max_num
        else:
            assert r.min_str <= r.max_str


def test_dq_detects_injected_violations(spark, tmp_path_factory):
    """Seed a corrupt micro-warehouse and check every rule reports the
    exact violation count (and clean rules report zero)."""
    import uuid

    from insight_patents_spark.operators.relational import dq_expectations

    sf = str(tmp_path_factory.mktemp("dq")) + f"/{uuid.uuid4().hex[:8]}"
    import os

    os.makedirs(sf)
    spark.createDataFrame(
        [(1, "a", 1, 0.0, "B"), (2, "b", 1, 0.0, "B")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [
            (10, 1, "O", 5.0, "2024-01-01 00:00:00", "1-URGENT"),
            (10, 2, "F", 6.0, "2024-01-01 00:00:00", "1-URGENT"),  # dup key
            (11, 99, "P", 7.0, "2024-01-01 00:00:00", "1-URGENT"),  # bad FK
            (12, 1, "X", -1.0, "2024-01-01 00:00:00", "1-URGENT"),  # bad status+price
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate", "o_orderpriority",
    ).coalesce(1).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(10, 1, 1, 1, 5.0), (11, 1, 1, 1, 99.0), (77, 1, 1, 1, 3.0)],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double",
    ).coalesce(1).write.parquet(f"{sf}/lineitem.parquet")
    got = {r.rule: (r.n_checked, r.n_violations)
           for r in dq_expectations(spark, sf).collect()}
    assert got == {
        "fk_orders_custkey": (4, 1),
        "fk_lineitem_orderkey": (3, 1),
        "uniq_orders_orderkey": (4, 1),
        "domain_orderstatus": (4, 1),
        "range_lineitem_qty": (3, 1),
        "range_totalprice_positive": (4, 1),
    }


def test_scd2_versioning_invariants(spark, sf_dir):
    """Changed keys carry exactly one closed + one current version with
    the +100 balance delta; unchanged keys exactly one open row."""
    from collections import defaultdict

    from insight_patents_spark.operators.relational import sink_scd2

    rows = defaultdict(list)
    for r in sink_scd2(spark, sf_dir).collect():
        rows[r.c_custkey].append(r)
    for k, vs in rows.items():
        if k % 10 == 0:
            assert len(vs) == 2
            closed = next(v for v in vs if not v.is_current)
            cur = next(v for v in vs if v.is_current)
            assert closed.valid_to == "2024-06-01"
            assert cur.valid_from == "2024-06-01" and cur.valid_to is None
            assert abs(cur.c_acctbal - (closed.c_acctbal + 100)) < 1e-9
        else:
            assert len(vs) == 1 and vs[0].is_current
            assert vs[0].valid_to is None


def test_dedup_eval_recall_bounds_and_prediction_subset(spark, sf_dir):
    """Recall in [0,1] per bin; hits never exceed truth; the verified
    LSH pairs are a SUBSET of the exact-threshold truth (precision 1)."""
    from insight_patents_spark.operators.text import (
        dedup_eval,
        dedup_minhash_pairs,
    )

    rows = dedup_eval(spark, sf_dir).collect()
    assert rows
    total_truth = sum(r.n_truth for r in rows)
    total_hit = sum(r.n_hit for r in rows)
    for r in rows:
        assert 0 <= r.n_hit <= r.n_truth
        assert 0.0 <= r.recall <= 1.0
    n_pred = dedup_minhash_pairs(spark, sf_dir).count()
    assert n_pred == total_hit  # every predicted pair is true
    assert total_hit <= total_truth


def test_domain_mix_shares_and_weights_balance(spark, sf_dir):
    """Actual shares sum to 1; target shares sum to 1; applying
    mix_weight to every cell's token mass reproduces the target mix."""
    from insight_patents_spark.operators.text import text_domain_mix

    rows = text_domain_mix(spark, sf_dir).collect()
    assert abs(sum(r.actual_share for r in rows) - 1.0) < 1e-6
    for r in rows:
        assert r.mix_weight > 0
        assert abs(r.actual_share * r.mix_weight - r.target_share) < 1e-6
    # uniform-over-sources policy: every observed cell of a language gets
    # the SAME target share (absent cells receive none, so per-lang
    # targets sum to lang_share * observed/|sources|)
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r.lang, set()).add(round(r.target_share, 9))
    assert all(len(v) == 1 for v in per_lang.values())


def test_cdc_apply_matches_bruteforce(spark, sf_dir):
    """sink_cdc_apply vs a dict-based replay of the same change log."""
    from insight_patents_spark.operators.relational import sink_cdc_apply
    from insight_patents_spark.sources.tables import load

    base = {
        r.c_custkey: r.c_acctbal
        for r in load(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .collect()
    }
    snap = {}
    for k, v in base.items():
        if k % 13 == 0:
            continue  # delete wins (seq 3 > 2)
        elif k % 10 == 0:
            snap[k] = (round(v + 75, 9), "updated")  # seq-2 update wins
        else:
            snap[k] = (v, "kept")
    for k, v in base.items():
        if k % 97 == 0 and (k + 100000) not in base:
            snap[k + 100000] = (1000.0, "inserted")
    got = {
        r.c_custkey: (round(r.acctbal, 9), r.change)
        for r in sink_cdc_apply(spark, sf_dir).collect()
    }
    assert got == snap


def test_pareto_curve_invariants(spark, sf_dir):
    """Deciles 1..10 all present, cum_share strictly increasing to 1.0,
    per-decile revenue non-increasing from decile 1 down, and headcounts
    near-uniform (boundary-interpolation ties only)."""
    from insight_patents_spark.operators.aggregates import agg_pareto

    rows = sorted(agg_pareto(spark, sf_dir).collect(), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    assert abs(rows[-1].cum_share - 1.0) < 1e-9
    shares = [r.cum_share for r in rows]
    assert all(a < b for a, b in zip(shares, shares[1:]))
    revs = [r.revenue for r in rows]
    assert all(a >= b for a, b in zip(revs, revs[1:]))
    n = sum(r.n_customers for r in rows)
    assert all(abs(r.n_customers - n / 10) <= n * 0.02 + 2 for r in rows)


def test_phash_pairs_sound_and_find_exact_dups(spark, sf_dir):
    """Soundness: every emitted pair is within the hamming threshold and
    shares at least one 15-bit band; completeness floor: identical texts
    have identical fingerprints and always pair (hamming 0)."""
    from collections import defaultdict

    from insight_patents_spark.operators.multimodal import (
        _PHASH_MAX_HD,
        _PHASH_PIXELS,
        mm_phash_dedup,
    )
    from insight_patents_spark.sources.tables import load

    texts = {
        r.doc_id: r.text
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }

    def ahash(t: str) -> int:
        p = [ord(c) for c in t[:_PHASH_PIXELS]]
        p += [0] * (_PHASH_PIXELS - len(p))
        s = sum(p)
        return sum(1 << i for i, v in enumerate(p) if _PHASH_PIXELS * v > s)

    h = {d: ahash(t) for d, t in texts.items()}
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in mm_phash_dedup(spark, sf_dir).collect()}
    for (a, b), hd in got.items():
        x = h[a] ^ h[b]
        assert bin(x).count("1") == hd <= _PHASH_MAX_HD
        assert any((h[a] >> (15 * k)) & 32767 == (h[b] >> (15 * k)) & 32767
                   for k in range(4))
    by_text = defaultdict(list)
    for d, t in texts.items():
        by_text[t].append(d)
    for ids in by_text.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                assert got.get((min(a, b), max(a, b))) == 0


def test_attribution_credit_conservation(spark, sf_dir):
    """Linear credits across channels sum to the number of purchases
    with >=1 touch; last-touch credits do too; touches are exact."""
    from insight_patents_spark.operators.sequences import agg_attribution
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = agg_attribution(spark, sf_dir).collect()
    total_linear = sum(r.linear_credit for r in rows)
    total_last = sum(r.last_touch_credit for r in rows)
    assert abs(total_linear - total_last) < 1e-6  # both = attributed purchases
    assert total_last == round(total_last)
    assert all(r.n_touches >= r.last_touch_credit for r in rows)


def test_scd2_asof_picks_exactly_one_version(spark, sf_dir):
    """Every changed-key order resolves to exactly one version, and the
    version flips at the 1998-01-01 cut: pre-cut orders read the closed
    row, later ones the current row (+100)."""
    from insight_patents_spark.operators.joins import join_scd2_asof
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = join_scd2_asof(spark, sf_dir).collect()
    n_fact = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .count()
    )
    assert len(rows) == n_fact  # 1:1, no fanout survives the validity filter
    bal = {}
    for r in rows:
        assert r.from_current_version == (r.order_date >= "1998-01-01")
        bal.setdefault(r.o_custkey, {})[r.from_current_version] = r.acctbal_asof
    for k, v in bal.items():
        if True in v and False in v:
            assert abs(v[True] - (v[False] + 100)) < 1e-9


def test_lr_inference_matches_reference_model(spark, sf_dir):
    """Recompute one doc's logit with a pure-Python reference model and
    check keep == (logit > -margin/4) exactly; scores are valid
    probabilities."""
    import hashlib
    from fractions import Fraction

    from insight_patents_spark.operators.ml import (
        _LR_BIAS_CENTI,
        _LR_BUCKETS,
        _LR_KEEP_MARGIN_Q,
        ml_lr_inference,
    )
    from insight_patents_spark.sources.tables import load

    rows = {r.doc_id: r for r in ml_lr_inference(spark, sf_dir).collect()}
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(5).collect()
    for d in docs:
        z, n = 0, 0
        for tok in d.text.split(" "):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _LR_BUCKETS
            w = int(hashlib.md5(f"w{b}".encode()).hexdigest()[:4], 16) % 101 - 50
            z += w
            n += 1
        got = rows[d.doc_id]
        assert got.n_tokens == n
        z_total = z + _LR_BIAS_CENTI * n
        assert got.keep == (Fraction(z_total, 100 * n) > Fraction(-_LR_KEEP_MARGIN_Q, 4))
        assert abs(got.logit - z_total / (100 * n)) < 1e-8
        assert 0.0 < got.score < 1.0


# Texts the fixed test corpus lacks: empty, leading/trailing/double
# space, NULL; plus NULL lang (pos is NULL in both engines). In " a a"
# and "b  b" the empty token also moves the TTR bin (2/3, not 1/2);
# "c c a" sits exactly on the keep cut (logit -1/4), "c f b" at logit 0.
_MODEL_DOCS = [
    (0, "", "en", "s0"),
    (1, " a", "de", "s0"),
    (2, "a ", "en", "s1"),
    (3, "a  b", "en", "s1"),
    (4, None, "en", "s0"),
    (5, "the cat the hat", None, "s2"),
    (6, " a a", "fr", "s2"),
    (7, "b  b", "en", "s2"),
    (8, "c f b", "en", "s0"),
    (9, "c c a", "de", "s1"),
]


@pytest.mark.parametrize(
    "model", ["lr_counts", "lr_docs", "ttr_docs", "ttr_docs_by_source"]
)
def test_model_builder_equals_sql_twin(spark, model):
    """Each ml.py model's Spark builder and its DuckDB CTE twin return
    equal rows over a small in-memory documents frame. lr_docs also
    carries the logit/score/keep Column twins."""
    import duckdb
    import pandas as pd

    from insight_patents_spark.operators import ml

    d = spark.createDataFrame(
        _MODEL_DOCS, "doc_id long, text string, lang string, source string"
    )
    if model == "lr_counts":
        sdf = ml._lr_counts(d)
        sql = ml._LR_DOCS_CTE + " SELECT doc_id, bucket, cnt FROM lr_counts"
    elif model == "lr_docs":
        sdf = ml._lr_docs(d).select(
            "doc_id",
            "n_tokens",
            "z_centi",
            ml._lr_logit().alias("logit"),
            ml._lr_score().alias("score"),
            ml._lr_keep().alias("keep"),
        )
        sql = ml._LR_DOCS_CTE + f"""
        SELECT doc_id, n_tokens, z_centi,
               CAST({ml._LR_LOGIT_SQL} AS DOUBLE),
               CAST({ml._LR_SCORE_SQL} AS DOUBLE),
               {ml._LR_KEEP_SQL}
        FROM lr_docs"""
    else:
        by_source = model == "ttr_docs_by_source"
        sdf = ml._ttr_docs(d, by_source=by_source)
        src = "source, " if by_source else ""
        sql = ml._ttr_docs_cte(by_source) + f" SELECT doc_id, {src}bin, pos FROM per_doc"
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(_MODEL_DOCS, columns=["doc_id", "text", "lang", "source"])
    )
    want = sorted(con.execute(sql).fetchall(), key=lambda r: r[:2])
    con.close()
    got = sorted((tuple(r) for r in sdf.collect()), key=lambda r: r[:2])
    assert got == want
    assert {r[0] for r in got} == {0, 1, 2, 3, 5, 6, 7, 8, 9}  # NULL text: no row


def test_pr_curve_monotone_and_bounded(spark, sf_dir):
    """Recall is monotone nonincreasing as the threshold rises; tp+fp is
    monotone too; precision/recall/f1 all within [0,1]; the lowest
    threshold recovers every positive (recall = 1)."""
    from insight_patents_spark.operators.ml import ml_pr_curve

    rows = sorted(ml_pr_curve(spark, sf_dir).collect(), key=lambda r: r.threshold_bin)
    for r in rows:
        assert 0.0 <= r.precision_at <= 1.0
        assert 0.0 <= r.recall_at <= 1.0
        assert 0.0 <= r.f1_at <= 1.0
    recalls = [r.recall_at for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    assert recalls[0] == 1.0
    totals = [r.tp + r.fp for r in rows]
    assert totals == sorted(totals, reverse=True)


def test_acf_lag0_identity_and_bounds(spark, sf_dir):
    """ACF values are within [-1, 1]; pair counts shrink by construction
    as the lag grows (n_lag <= n_{lag-1} per type)."""
    from collections import defaultdict

    from insight_patents_spark.operators.sequences import time_acf

    rows = time_acf(spark, sf_dir).collect()
    assert rows
    by_type = defaultdict(dict)
    for r in rows:
        assert -1.0 <= r.acf <= 1.0
        by_type[r.event_type][r.lag] = r.n
    for lags in by_type.values():
        ks = sorted(lags)
        for a, b in zip(ks, ks[1:]):
            assert lags[b] <= lags[a]


def test_benford_fracs_sum_to_one(spark, sf_dir):
    """Per type: observed fractions sum to ~1, digits are 1..9, the
    chi-square column is constant within the type and nonnegative."""
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_benford

    rows = agg_benford(spark, sf_dir).collect()
    by_type = defaultdict(list)
    for r in rows:
        assert 1 <= r.digit <= 9
        assert r.chi_square >= 0
        by_type[r.event_type].append(r)
    for rs in by_type.values():
        assert abs(sum(r.observed_frac for r in rs) - 1.0) < 1e-6
        assert len({r.chi_square for r in rs}) == 1


def test_equidepth_buckets_roughly_equal(spark, sf_dir):
    """Bucket counts are within interpolation slack of equal; bucket
    ranges tile [min, max] without overlap; total count is exact."""
    from insight_patents_spark.operators.aggregates import agg_histogram_equidepth
    from insight_patents_spark.sources.tables import load

    rows = sorted(agg_histogram_equidepth(spark, sf_dir).collect(),
                  key=lambda r: r.bucket)
    n_total = load(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == n_total
    expect = n_total / len(rows)
    for r in rows:
        assert abs(r.n_orders - expect) <= expect * 0.05 + 2
    for a, b in zip(rows, rows[1:]):
        assert a.hi_cents <= b.lo_cents


def test_mutual_info_nonnegative_and_consistent(spark, sf_dir):
    """MI total is nonnegative (information inequality), identical on
    every row, and equals the n-weighted PMI mean within fold slack."""
    from insight_patents_spark.operators.aggregates import agg_mutual_info

    rows = agg_mutual_info(spark, sf_dir).collect()
    assert rows
    mis = {r.mi_total for r in rows}
    assert len(mis) == 1
    mi = mis.pop()
    assert mi >= -1e-9
    n = sum(r.n for r in rows)
    recomputed = sum(r.n / n * r.pmi for r in rows)
    assert abs(recomputed - mi) < 1e-6


def test_interarrival_quantile_ordering(spark, sf_dir):
    """Per type: median <= p90 <= max, gaps positive, and the gap count
    equals events-of-type minus users-having-that-type."""
    from insight_patents_spark.operators.sequences import time_interarrival
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = {r.event_type: r for r in time_interarrival(spark, sf_dir).collect()}
    base = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("u"),
        )
        .collect()
    )
    for b in base:
        r = rows[b.event_type]
        assert r.n_gaps == b.n - b.u
        assert 0 < r.median_us <= r.p90_us <= r.max_us


def test_recursive_cte_tree_invariants(spark, sf_dir):
    """Depth matches node kind (R=0, N=1, C=2), every path starts at the
    node's root region name, and child counts reconcile with the dims."""
    from insight_patents_spark.operators.relational import sql_recursive_cte

    rows = sql_recursive_cte(spark, sf_dir).collect()
    kinds = {"R": 0, "N": 1, "C": 2}
    for r in rows:
        assert r.depth == kinds[r.node[0]]
        assert r.root.startswith("R")
        assert r.path.count("/") == r.depth
    assert sum(1 for r in rows if r.depth == 0) == 5
    assert sum(1 for r in rows if r.depth == 1) == 25


def test_rsi_bounds_and_flat_series_behavior(spark, sf_dir):
    """RSI lies in [0, 100]; rows only appear once 14 deltas exist; a
    recomputed python RSI from the same grid matches for one type."""
    from collections import defaultdict

    from insight_patents_spark.operators.windows import _RSI_PERIOD, win_rsi
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = win_rsi(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.rsi <= 100.0
    grid = defaultdict(dict)
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    for g in (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("c"))
        .collect()
    ):
        grid[g.event_type][str(g.day)] = g.c
    et = rows[0].event_type
    days = sorted(grid[et])
    deltas = {
        days[i]: grid[et][days[i]] - grid[et][days[i - 1]]
        for i in range(1, len(days))
    }
    mine = {}
    dl = sorted(deltas)
    for i in range(_RSI_PERIOD - 1, len(dl)):
        fr = [deltas[d] for d in dl[i - _RSI_PERIOD + 1 : i + 1]]
        sg, sl = sum(x for x in fr if x > 0), -sum(x for x in fr if x < 0)
        mine[dl[i]] = 100.0 if sl == 0 else round(100 - 100 / (1 + sg / sl), 9)
    got = {r.day: r.rsi for r in rows if r.event_type == et}
    assert got == mine


def test_zipf_slope_negative_on_skewed_ranks(spark, sf_dir):
    """Slopes are finite; per-lang vocab counts match a direct distinct
    count; a perfectly uniform frequency table would give slope ~0 and
    this corpus must stay in (-1.5, 0.5)."""
    from insight_patents_spark.operators.text import text_zipf_fit
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = {r.lang: r for r in text_zipf_fit(spark, sf_dir).collect()}
    vocab = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("lang")
        .agg(F.count_distinct("t").alias("v"))
        .collect()
    )
    for v in vocab:
        r = rows[v.lang]
        assert r.n_vocab == v.v
        assert -1.5 < r.zipf_slope < 0.5


def test_pca_projection_invariants(spark, sf_dir):
    """Projections are centered (sum ~ 0); the component direction after
    3 power iterations captures at least as much variance as the uniform
    start direction (Rayleigh monotonicity), both measured in numpy."""
    import numpy as np

    from insight_patents_spark.operators.vector import vec_pca_project
    from insight_patents_spark.sources.tables import load

    rows = vec_pca_project(spark, sf_dir).collect()
    scores = np.array([r.pc1 for r in rows])
    assert abs(scores.mean()) < 1e-3
    assert scores.std() > 0
    X = np.array(
        [
            r.v
            for r in load(spark, sf_dir, "embeddings")
            .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
            .collect()
        ]
    )
    Xc = X - X.mean(axis=0)
    w0 = np.full(64, 0.125)
    base = ((Xc @ w0) ** 2).mean()
    assert scores.var() >= base * 0.999


def test_confusion_matrix_reconciles_with_lr(spark, sf_dir):
    """Quadrants partition the corpus; tp+fn equals the english doc
    count; accuracy recomputes from the cells; the scored decision keeps
    some english docs (a cut that keeps nothing makes tp = fp = 0 and
    MCC 0 whatever the classifier)."""
    from insight_patents_spark.operators.ml import ml_confusion_matrix
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = {r.quadrant: r for r in ml_confusion_matrix(spark, sf_dir).collect()}
    d = load(spark, sf_dir, "documents")
    n = d.count()
    n_en = d.filter(F.col("lang") == "en").count()
    total = sum(r.n for r in rows.values())
    assert total == n
    assert rows["tp"].n + rows["fn"].n == n_en
    assert rows["tp"].n > 0
    acc = (rows["tp"].n + rows["tn"].n) / n
    assert abs(rows["tp"].accuracy - round(acc, 9)) < 1e-12
    assert -1.0 <= rows["tp"].mcc <= 1.0


def test_calibration_bins_partition_and_bound(spark, sf_dir):
    """Bin populations sum to the corpus; observed rates and mean
    predictions are valid probabilities; mean_predicted lies within the
    bin's centile bounds."""
    from insight_patents_spark.operators.ml import ml_calibration_bins
    from insight_patents_spark.sources.tables import load

    rows = ml_calibration_bins(spark, sf_dir).collect()
    n = load(spark, sf_dir, "documents").count()
    assert sum(r.n for r in rows) == n
    for r in rows:
        assert 0.0 <= r.observed_rate <= 1.0
        assert r.bin / 100 - 1e-9 <= r.mean_predicted < (r.bin + 1) / 100 + 1e-9


def test_anova_f_matches_scipy_formula(spark, sf_dir):
    """Recompute the F statistic directly from the grouped cents in
    python; SSB and SSW are nonnegative and F matches."""
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_anova_f
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    row = agg_anova_f(spark, sf_dir).collect()[0]
    assert row.ss_between >= 0 and row.ss_within >= 0
    groups = defaultdict(list)
    e = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
    )
    for r in e.collect():
        groups[r.event_type].append(r.c)
    k = len(groups)
    nt = sum(len(v) for v in groups.values())
    st = sum(sum(v) for v in groups.values())
    between_raw = sum(sum(groups[g]) ** 2 / len(groups[g]) for g in sorted(groups))
    sst = sum(x * x for v in groups.values() for x in v)
    ssb = between_raw - st * st / nt
    ssw = sst - between_raw
    f = (ssb / (k - 1)) / (ssw / (nt - k))
    assert abs(row.f_stat - f) < max(1e-6, abs(f) * 1e-9)


def test_log_histogram_brackets_exact_percentiles(spark, sf_dir):
    """The HdrHistogram contract: each reported lower bound is <= the
    exact percentile and within one bucket (2x) of it."""
    from insight_patents_spark.operators.aggregates import agg_log_histogram
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = {r.event_type: r for r in agg_log_histogram(spark, sf_dir).collect()}
    e = load(spark, sf_dir, "events").filter(F.col("value") >= 0.01)
    exact = (
        e.groupBy("event_type")
        .agg(
            F.expr(
                "percentile(CAST(ROUND(value*100,0) AS BIGINT), array(0.5, 0.95, 0.99))"
            ).alias("p")
        )
        .collect()
    )
    for x in exact:
        r = rows[x.event_type]
        for lo, ex in zip(
            (r.p50_lo_cents, r.p95_lo_cents, r.p99_lo_cents), x.p
        ):
            assert lo <= ex + 1e-9
            assert ex < lo * 2 + 1  # within one log2 bucket


def test_geo_pairs_sound_and_complete_in_cell(spark, sf_dir):
    """Soundness: every pair satisfies the integer metric; completeness:
    brute-force over the derived points finds exactly the same pairs."""
    import hashlib

    from insight_patents_spark.operators.joins import _GEO_R2, geo_grid_join
    from insight_patents_spark.sources.tables import load

    ids = [
        r.c_custkey
        for r in load(spark, sf_dir, "customer").select("c_custkey").collect()
    ]

    def coord(p, k):
        h = int(hashlib.md5(f"{p}{k}".encode()).hexdigest()[:8], 16)
        return (h % 1200001 - 600000) if p == "lat" else (h % 3600001 - 1800000)

    pts = {k: (coord("lat", k), coord("lon", k)) for k in ids}
    want = set()
    for a in ids:
        for b in ids:
            if a < b:
                d2q = 4 * (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
                if d2q <= 4 * _GEO_R2:
                    want.add((a, b))
    got = {(r.id_a, r.id_b) for r in geo_grid_join(spark, sf_dir).collect()}
    assert got == want


def test_impute_preserves_observed_and_fills_missing(spark, sf_dir):
    """Non-missing rows keep their cents; missing rows all get their
    type's median of observed values; row count is the full fact."""
    from collections import defaultdict

    from insight_patents_spark.operators.relational import dq_impute
    from insight_patents_spark.sources.tables import load

    rows = dq_impute(spark, sf_dir).collect()
    assert len(rows) == load(spark, sf_dir, "events").count()
    fills = defaultdict(set)
    for r in rows:
        if r.is_missing:
            fills[r.event_type].add(r.cents_imputed)
        else:
            assert r.cents_imputed == int(r.cents_imputed)
    for vals in fills.values():
        assert len(vals) == 1  # one median per type


def test_sliding_distinct_dominates_daily(spark, sf_dir):
    """The 7-day distinct count is >= the single-day distinct count at
    the same (type, end day) and <= the all-time distinct count."""
    from insight_patents_spark.operators.windows import win_sliding_distinct
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = {(r.event_type, r.window_end): r.distinct_users
            for r in win_sliding_distinct(spark, sf_dir).collect()}
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").cast("string").alias("d")
    ).agg(F.count_distinct("user_id").alias("u")).collect()
    alltime = {
        r.event_type: r.u
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("u"))
        .collect()
    }
    for d in daily:
        w = rows[(d.event_type, d.d)]
        assert d.u <= w <= alltime[d.event_type]


def test_ks_matches_bruteforce_ecdf(spark, sf_dir):
    """Recompute D from raw cents in python; D in [0,1]; identical
    distributions would give 0 (checked by comparing a type to itself
    via the exact-integer identity num=0 ⟺ proportional cumulative)."""
    from insight_patents_spark.operators.aggregates import _KS_A, _KS_B, agg_ks_test
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    row = agg_ks_test(spark, sf_dir).collect()[0]
    assert 0.0 <= row.d_stat <= 1.0
    e = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
    )
    a = sorted(r.c for r in e.filter(F.col("event_type") == _KS_A).collect())
    b = sorted(r.c for r in e.filter(F.col("event_type") == _KS_B).collect())
    import bisect

    grid = sorted(set(a) | set(b))
    d = max(
        abs(bisect.bisect_right(a, v) / len(a) - bisect.bisect_right(b, v) / len(b))
        for v in grid
    )
    assert abs(row.d_stat - d) < 1e-9
    assert row.reject_05 == (row.d_stat > row.crit_05)


def test_mad_matches_bruteforce(spark, sf_dir):
    """Median/MAD/outlier-count recomputed in python for every type."""
    import statistics
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_mad_outliers
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    rows = {r.event_type: r for r in agg_mad_outliers(spark, sf_dir).collect()}
    groups = defaultdict(list)
    e = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
    )
    for r in e.collect():
        groups[r.event_type].append(r.c)
    for et, vals in groups.items():
        med = statistics.median(vals)
        adev = [abs(v - med) for v in vals]
        mad = statistics.median(adev)
        r = rows[et]
        assert r.n == len(vals)
        assert abs(r.median_cents - med) < 1e-6
        assert abs(r.mad_cents - mad) < 1e-6
        assert r.n_outliers == sum(1 for a in adev if a > 3.5 * mad)


def test_diameter_2sweep_bounds(spark, sf_dir, duck):
    """The 2-sweep value is a valid eccentricity: it equals the max
    BFS distance from the peripheral node computed by an independent
    python BFS, and is >= the first sweep's max distance."""
    from collections import deque

    from insight_patents_spark.operators.graph import (
        DIAM_DEPTH,
        MIN_SUPPORT,
        graph_diameter_2sweep,
    )

    row = graph_diameter_2sweep(spark, sf_dir).collect()[0]
    edges = duck.execute(f"""
        WITH pairs AS (
          SELECT a.l_partkey pa, b.l_partkey pb
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SUPPORT})
        SELECT pa, pb FROM pairs""").fetchall()
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def bfs(s):
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= DIAM_DEPTH:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist
    d2 = bfs(row.peripheral_node)
    assert row.diameter_lb == max(d2.values())
    assert row.n_reached == len(d2)


def test_skyline_is_exactly_the_nondominated_set(spark, sf_dir):
    """Brute-force dominance check over all parts."""
    from insight_patents_spark.operators.windows import win_skyline_2d
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    pts = [
        (r.p_partkey, r.pc, r.sz)
        for r in load(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias("pc"),
            F.col("p_size").cast("bigint").alias("sz"),
        )
        .collect()
    ]
    def dominated(a):
        return any(
            (b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2]))
            for b in pts if b[0] != a[0]
        )
    want_keys = {a[0] for a in pts if not dominated(a)}
    got = {r.p_partkey for r in win_skyline_2d(spark, sf_dir).collect()}
    # ties on (price,size) keep only the min-key representative
    by_ps = {}
    for k, pc, sz in pts:
        if k in want_keys:
            by_ps.setdefault((pc, sz), []).append(k)
    want = {min(ks) for ks in by_ps.values()}
    assert got == want


def test_time_decay_bounds_and_monotone(spark, sf_dir):
    """Decayed revenue is positive and never exceeds raw revenue; users
    with purchases only on the anchor day have decayed == raw."""
    from insight_patents_spark.operators.sequences import agg_time_decay

    rows = agg_time_decay(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.cents_decayed <= r.cents_raw + 1e-6


def test_markov_stationary_is_distribution_and_fixed_point(spark, sf_dir):
    """Probabilities sum to ~1 and the vector is (near) invariant under
    one more transition step computed in python."""
    from collections import defaultdict

    from insight_patents_spark.operators.sequences import (
        seq_markov_chain,
        seq_markov_stationary,
    )

    pi = {r.event_type: r.stationary_prob
          for r in seq_markov_stationary(spark, sf_dir).collect()}
    assert abs(sum(pi.values()) - 1.0) < 1e-6
    P = defaultdict(dict)
    for r in seq_markov_chain(spark, sf_dir).collect():
        P[r.prev][r.curr] = r.prob
    nxt = defaultdict(float)
    for prev, row in P.items():
        for curr, pr in row.items():
            nxt[curr] += pi.get(prev, 0.0) * pr
    for s, v in pi.items():
        assert abs(nxt[s] - v) < 1e-6


def test_bounce_rate_reconciles_with_sessionize(spark, sf_dir):
    """Session totals across entry types equal win_sessionize's session
    count; bounces equal its single-event sessions."""
    from insight_patents_spark.operators.windows import (
        agg_bounce_rate,
        win_sessionize,
    )

    rows = agg_bounce_rate(spark, sf_dir).collect()
    sess = win_sessionize(spark, sf_dir).collect()
    assert sum(r.n_sessions for r in rows) == len(sess)
    assert sum(r.n_bounces for r in rows) == sum(
        1 for s in sess if s.n_events == 1
    )
    for r in rows:
        assert 0.0 <= r.bounce_rate <= 1.0


def test_pip_matches_shoelace_reference(spark, sf_dir):
    """Containment recomputed with an independent python ray-cast over
    the same md5-derived points; counts must match exactly."""
    import hashlib

    from insight_patents_spark.operators.joins import (
        _GEO_POLYGONS,
        geo_point_in_polygon,
    )
    from insight_patents_spark.sources.tables import load

    ids = [
        r.c_custkey
        for r in load(spark, sf_dir, "customer").select("c_custkey").collect()
    ]

    def coord(p, k):
        h = int(hashlib.md5(f"{p}{k}".encode()).hexdigest()[:8], 16)
        return (h % 1200001 - 600000) if p == "lat" else (h % 3600001 - 1800000)

    def inside(px, py, ring):
        n = 0
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            if (y1 > py) != (y2 > py):
                cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
                if (cross > 0) if y2 > y1 else (cross < 0):
                    n += 1
        return n % 2 == 1

    want = {
        pid: sum(
            1 for k in ids if inside(coord("lon", k), coord("lat", k), ring)
        )
        for pid, ring in _GEO_POLYGONS.items()
    }
    got = {r.polygon_id: r.n_inside
           for r in geo_point_in_polygon(spark, sf_dir).collect()}
    assert got == want
    assert all(v > 0 for v in want.values())  # polygons are non-trivially hit


def test_pca_top2_orthogonal_and_consistent(spark, sf_dir):
    """pc1 matches vec_pca_project exactly; pc1/pc2 score vectors are
    near-orthogonal (deflation removes the first direction) and pc2
    captures less energy than pc1 after convergence-ish iterations."""
    import numpy as np

    from insight_patents_spark.operators.vector import (
        vec_pca_project,
        vec_pca_top2,
    )

    two = {r.vec_id: (r.pc1, r.pc2) for r in vec_pca_top2(spark, sf_dir).collect()}
    one = {r.vec_id: r.pc1 for r in vec_pca_project(spark, sf_dir).collect()}
    assert set(two) == set(one)
    for k, v in one.items():
        assert two[k][0] == v  # identical arithmetic chain
    a = np.array([two[k][0] for k in sorted(two)])
    b = np.array([two[k][1] for k in sorted(two)])
    corr = abs(np.dot(a - a.mean(), b - b.mean())) / (
        np.linalg.norm(a - a.mean()) * np.linalg.norm(b - b.mean())
    )
    # fixed 3-round components are not fully converged, so deflation
    # leaves bounded leakage — require substantial decorrelation only
    assert corr < 0.35


def test_geo_density_smoothing_conserves_mass(spark, sf_dir):
    """Sum of per-cell counts equals the customer count; each smoothed
    value >= its own cell count; total smoothed mass = 9x total minus
    the mass scattered onto unoccupied cells (>= raw total)."""
    from insight_patents_spark.operators.joins import geo_cell_density
    from insight_patents_spark.sources.tables import load

    rows = geo_cell_density(spark, sf_dir).collect()
    n = load(spark, sf_dir, "customer").count()
    assert sum(r.n for r in rows) == n
    for r in rows:
        assert r.smoothed >= r.n


def test_markov_attribution_sane(spark, sf_dir):
    """Shares sum to 1; every removal effect is in [0, 1] (removing a
    channel cannot raise conversion in this chain); every channel gets
    a row."""
    from insight_patents_spark.operators.sequences import (
        _MK_CHANNELS,
        seq_attribution_markov,
    )

    rows = {r.channel: r for r in seq_attribution_markov(spark, sf_dir).collect()}
    assert set(rows) == set(_MK_CHANNELS)
    assert abs(sum(r.attributed_share for r in rows.values()) - 1.0) < 1e-6
    for r in rows.values():
        assert -1e-9 <= r.removal_effect <= 1.0


def test_assortativity_in_range_and_matches_numpy(spark, sf_dir, duck):
    """r in [-1, 1] and equals numpy's corrcoef over the same
    (deg_src, deg_dst) edge pairs."""
    import numpy as np

    from insight_patents_spark.operators.graph import (
        MIN_SUPPORT,
        graph_assortativity,
    )

    row = graph_assortativity(spark, sf_dir).collect()[0]
    assert -1.0 <= row.assortativity <= 1.0
    pairs = duck.execute(f"""
        WITH pairs AS (
          SELECT a.l_partkey pa, b.l_partkey pb
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SUPPORT}),
        edges AS (SELECT pa s, pb d FROM pairs
                  UNION ALL SELECT pb, pa FROM pairs),
        deg AS (SELECT s AS node, COUNT(*) AS dg FROM edges GROUP BY s)
        SELECT da.dg, db.dg FROM edges e
        JOIN deg da ON e.s = da.node JOIN deg db ON e.d = db.node
    """).fetchall()
    x = np.array([p[0] for p in pairs], dtype=np.float64)
    y = np.array([p[1] for p in pairs], dtype=np.float64)
    assert row.n_edges == len(pairs)
    assert abs(row.assortativity - np.corrcoef(x, y)[0, 1]) < 1e-6


def test_udtf_table_arg_matches_python_replay(spark, sf_dir):
    """Longest increasing run recomputed per type from the ordered
    event stream in python."""
    from collections import defaultdict

    from insight_patents_spark.operators.udf import udtf_table_arg
    from insight_patents_spark.sources.tables import load
    from pyspark.sql import functions as F

    got = {r.event_type: (r.longest_run, r.run_last_cents)
           for r in udtf_table_arg(spark, sf_dir).collect()}
    streams = defaultdict(list)
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        "ts",
        "event_id",
    )
    for r in sorted(e.collect(), key=lambda r: (r.ts, r.event_id)):
        streams[r.event_type].append(r.c)
    for et, vals in streams.items():
        best, best_last, cur = 0, None, 0
        prev = None
        for c in vals:
            cur = cur + 1 if (prev is not None and c > prev) else 1
            prev = c
            if cur > best:
                best, best_last = cur, c
        assert got[et] == (best, best_last)


def test_df_cap_truth_unchanged_when_cap_unbinding(spark, sf_dir):
    """DEDUP_DF_CAP gates candidate DISCOVERY only: with any cap larger
    than the max document frequency (100k >> |docs| on every fixture),
    the capped shared-token truth equals the uncapped truth exactly —
    and a binding cap yields a strict subset with identical jaccard
    values on the surviving pairs (verification is on full sets)."""
    from insight_patents_spark.operators.text import (
        DEDUP_DF_CAP,
        _truth_pairs_token_join,
    )
    from insight_patents_spark.sources.tables import load

    d = load(spark, sf_dir, "documents")
    assert DEDUP_DF_CAP > d.count()  # the cap cannot bind on the fixture
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _truth_pairs_token_join(spark, d, 0.7).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _truth_pairs_token_join(
            spark, d, 0.7, df_cap=1 << 60
        ).collect()
    }
    assert capped == uncapped and len(capped) > 0
    # a binding cap only DROPS pairs; values on survivors are unchanged
    tiny = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _truth_pairs_token_join(spark, d, 0.7, df_cap=2).collect()
    }
    assert set(tiny) <= set(uncapped)
    assert all(uncapped[k] == v for k, v in tiny.items())


# short docs over a tiny vocab -> many shared trigrams; plus forced
# near-dup pairs (doc i duplicated with one token appended) so the J>=0.5
# output is non-empty on most examples
_ngram_docs = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=3, max_size=10).map(
        lambda toks: " ".join(toks)
    ),
    min_size=2,
    max_size=8,
)


@_PROP
@given(texts=_ngram_docs)
def test_ngram_jaccard_prefix_filter_is_exact(spark, tmp_path_factory, texts):
    """dedup_ngram_jaccard's PPJoin prefix∧cap blocking must equal the
    BRUTE-FORCE all-pairs shingle Jaccard (J >= 0.5) on arbitrary
    corpora — the prefix/length/position filters may only prune
    provably-infeasible candidates, never a true pair (text.py lemma:
    the pair's globally-minimal shared shingle survives every filter)."""
    import os
    import uuid

    from insight_patents_spark.operators.text import dedup_ngram_jaccard

    # append exact + 1-token-extended copies of the first doc: guaranteed
    # J=1.0 and J<1 true pairs exist whenever the base doc has shingles
    texts = list(texts) + [texts[0], texts[0] + " a"]
    rows = [(i, t, "en", "prop", len(t)) for i, t in enumerate(texts)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path_factory.mktemp("ng")) + f"/{uuid.uuid4().hex[:8]}"
    os.makedirs(sf)
    d.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf).collect()
    }

    def shingles(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else None

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] is not None and sets[b] is not None:
                inter = len(sets[a] & sets[b])
                uni = len(sets[a] | sets[b])
                j = inter / uni
                if j >= 0.5:
                    want[(a, b)] = j
    assert set(got) == set(want)
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12
    assert want  # the forced duplicates guarantee at least one true pair


def _tarjan_scc(n_nodes, edge_list):
    """Iterative Tarjan; returns {node: min node id of its SCC}."""
    adj = {v: [] for v in range(n_nodes)}
    for s, t in edge_list:
        adj[s].append(t)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp = {}
    counter = [0]
    for root in range(n_nodes):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                scc = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    scc.append(w)
                    if w == v:
                        break
                m = min(scc)
                for w in scc:
                    comp[w] = m
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])
    return comp


_digraph = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=24,
).filter(lambda es: any(s != t for s, t in es))


@_PROP
@given(edge_list=_digraph)
def test_scc_peel_matches_tarjan(spark, edge_list):
    """_scc_peel on arbitrary random digraphs == brute-force Tarjan
    (SCC labeled by its min node id). Exercises trim, color, confirm
    and the multi-round peel on shapes the fixture never produces."""
    from insight_patents_spark.operators.graph import _scc_peel

    edge_list = sorted({(s, t) for s, t in edge_list if s != t})
    nodes = sorted({v for e in edge_list for v in e})
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.scc for r in _scc_peel(ndf, edf).collect()}
    want = _tarjan_scc(10, edge_list)
    want = {v: want[v] for v in nodes}
    assert got == want


def test_scc_peel_adversarial_cycle_and_chain(spark):
    """The ADVICE r6 adversary: a directed cycle whose ids increase
    AGAINST edge direction (pointer jumping degenerates to one hop per
    round — labels must still converge, or raise, never silently
    misassign), plus a long pure path (condensation deeper than
    SCC_MAX_OUTER pre-fix) that trim-to-fixpoint must drain in ONE
    outer round."""
    from insight_patents_spark.operators.graph import _scc_peel

    # reversed 12-cycle: edges k+1 -> k (mod 12): one SCC, min id 0
    n = 12
    cyc = [((k + 1) % n, k) for k in range(n)]
    ndf = spark.createDataFrame([(v,) for v in range(n)], "node long")
    edf = spark.createDataFrame(cyc, "src long, dst long")
    got = {r.node: r.scc for r in _scc_peel(ndf, edf).collect()}
    assert got == {v: 0 for v in range(n)}

    # 60-node directed path: every node its own SCC; drains via trim
    path = [(k, k + 1) for k in range(59)]
    ndf = spark.createDataFrame([(v,) for v in range(60)], "node long")
    edf = spark.createDataFrame(path, "src long, dst long")
    got = {r.node: r.scc for r in _scc_peel(ndf, edf).collect()}
    assert got == {v: v for v in range(60)}


def test_markov_driver_solve_equals_distributed(spark, sf_dir):
    """The guarded driver-side absorbing-chain solve must be
    BIT-IDENTICAL to the distributed 5x12 iteration it replaces
    (same fold order, same F.round twin) — forced by dropping the grid
    cap to -1 so the same input runs both paths."""
    import insight_patents_spark.operators.sequences as S

    fast = sorted(
        map(tuple, S.seq_attribution_markov(spark, sf_dir).collect())
    )
    cap = S._MK_GRID_CAP
    S._MK_GRID_CAP = -1
    try:
        slow = sorted(
            map(tuple, S.seq_attribution_markov(spark, sf_dir).collect())
        )
    finally:
        S._MK_GRID_CAP = cap
    assert fast == slow and len(fast) > 0


def test_stream_tumbling_equals_batch_twin(spark, sf_dir):
    """stream_tumbling (watermarked AvailableNow windowed agg) must be
    row-identical to the batch groupBy(window(...)) twin — the
    batch-equal contract of the streaming family."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_tumbling

    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in stream_tumbling(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.window("ts", "10 minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_dedup_equals_batch_distinct(spark, sf_dir):
    """stream_dedup (dropDuplicatesWithinWatermark state machinery) must
    equal the batch distinct-count twin."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_dedup

    got = {
        r.event_type: r.n_unique_events
        for r in stream_dedup(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    want = {
        r.event_type: r.n
        for r in e.select("event_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_approx_distinct_within_bound_and_exact_reconciles(spark, sf_dir):
    """agg_approx_distinct: the in-query HLL-vs-exact flag must be TRUE
    for every group, and the exact counts must equal a driver-side
    Python set count over the raw events."""
    from insight_patents_spark.operators.aggregates import agg_approx_distinct
    from insight_patents_spark.sources.tables import load

    rows = agg_approx_distinct(spark, sf_dir).collect()
    assert rows and all(r.est_within_10pct for r in rows)
    seen = {}
    for r in load(spark, sf_dir, "events").select("event_type", "user_id").collect():
        seen.setdefault(r.event_type, set()).add(r.user_id)
    want = {k: len(v) for k, v in seen.items()}
    assert {r.event_type: r.exact_users for r in rows} == want


def test_clean_normalize_idempotent_and_charset(spark, sf_dir):
    """text_clean_normalize: output must be a fixpoint of the cleaning
    transform (re-cleaning changes nothing), restricted to [a-z0-9 ]
    with single spaces, and clean_tokens must equal the split length."""
    import re as _re

    from insight_patents_spark.operators.text import text_clean_normalize

    def clean(t):
        t = _re.sub(r"https?://[^ ]+", " ", t.lower())
        t = _re.sub(r"[^a-z0-9 ]", " ", t)
        return _re.sub(r" +", " ", t).strip()

    rows = text_clean_normalize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert clean(r.clean_text) == r.clean_text
        assert not _re.search(r"[^a-z0-9 ]| {2,}", r.clean_text)
        assert r.clean_tokens == len(r.clean_text.split(" "))


def test_pii_mask_leaves_no_unmasked_pii(spark, sf_dir):
    """text_pii_mask: no email or phone pattern may survive in
    masked_text, every doc's synthetic contact line must have produced
    both placeholders, and masked_chars must be positive."""
    import re as _re

    from insight_patents_spark.operators.text import text_pii_mask

    email = _re.compile(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}")
    phone = _re.compile(r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}")
    rows = text_pii_mask(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert not email.search(r.masked_text)
        assert not phone.search(r.masked_text)
        assert "<EMAIL>" in r.masked_text and "<PHONE>" in r.masked_text
        assert r.masked_chars > 0


def test_dedup_exact_reconciles_with_python(spark, sf_dir):
    """dedup_exact: one survivor per distinct text, n_copies equal to
    the Python Counter of raw texts, total copies = corpus size."""
    from collections import Counter

    from insight_patents_spark.operators.setops import dedup_exact
    from insight_patents_spark.sources.tables import load

    rows = dedup_exact(spark, sf_dir).collect()
    texts = [
        r.text for r in load(spark, sf_dir, "documents").select("text").collect()
    ]
    want = Counter(texts)
    assert {r.text: r.n_copies for r in rows} == dict(want)
    assert sum(r.n_copies for r in rows) == len(texts)


def test_vec_centroid_matches_numpy(spark, sf_dir):
    """vec_centroid: per-(label, dim) mean equals NumPy within 2e-9
    (the engine floors each value to nano-units before the exact
    integer sum — error ≤ 1e-9 on the mean — and numpy pairwise-sums
    the unquantized set)."""
    import numpy as np

    from insight_patents_spark.operators.vector import vec_centroid
    from insight_patents_spark.sources.tables import load

    got = {
        (r.label, r.pos): r.centroid for r in vec_centroid(spark, sf_dir).collect()
    }
    vecs = {}
    for r in load(spark, sf_dir, "embeddings").select("label", "embedding").collect():
        vecs.setdefault(r.label, []).append(r.embedding)
    for label, vs in vecs.items():
        mean = np.asarray(vs, dtype=np.float64).mean(axis=0)
        for i, m in enumerate(mean, start=1):
            assert abs(got[(label, i)] - m) < 2e-9
    assert len(got) > 0


def test_triangles_match_bruteforce(spark, sf_dir):
    """graph_triangles: per-vertex triangle counts equal a Python brute
    force over the same canonical (pa < pb) pair list."""
    from collections import Counter

    from insight_patents_spark.operators.graph import _pairs, graph_triangles

    pairs = {
        (r.pa, r.pb) for r in _pairs(spark, sf_dir).select("pa", "pb").collect()
    }
    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
    want = Counter()
    for a, b in pairs:
        for c in nbrs.get(b, ()) :
            if (a, c) in pairs:
                want[a] += 1
                want[b] += 1
                want[c] += 1
    got = Counter(
        {r.node: r.n_triangles for r in graph_triangles(spark, sf_dir).collect()}
    )
    assert got == want and len(got) > 0


def test_win_rank_battery_invariants(spark, sf_dir):
    """win_rank: per customer, row_number is a dense 1..k permutation,
    rank/dense_rank/percent_rank/ntile obey their defining inequalities,
    and ties in o_totalprice share rank."""
    from insight_patents_spark.operators.windows import win_rank

    by_cust = {}
    for r in win_rank(spark, sf_dir).collect():
        by_cust.setdefault(r.o_custkey, []).append(r)
    assert by_cust
    for rows in by_cust.values():
        rows.sort(key=lambda r: r.rn)
        k = len(rows)
        assert [r.rn for r in rows] == list(range(1, k + 1))
        for r in rows:
            assert r.rnk <= r.rn and r.drnk <= r.rnk
            assert 1 <= r.quartile <= 4
            assert 0.0 <= r.pct_rank <= 1.0
            want_pct = 0.0 if k == 1 else round((r.rnk - 1) / (k - 1), 6)
            assert abs(r.pct_rank - want_pct) < 1e-9


def test_quantile_sketch_brackets_exact(spark, sf_dir):
    """agg_quantile_sketch: the mergeable-histogram p50/p95 estimates
    must land within one bin width (1000) of the exact percentiles
    computed in Python over the raw column."""
    import math

    from insight_patents_spark.operators.aggregates import agg_quantile_sketch
    from insight_patents_spark.sources.tables import load

    vals = {}
    for r in (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    ):
        vals.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    rows = agg_quantile_sketch(spark, sf_dir).collect()
    assert rows
    for r in rows:
        xs = sorted(vals[r.l_returnflag])
        assert r.n_rows == len(xs)
        for q, est in ((0.5, r.p50_est), (0.95, r.p95_est)):
            exact = xs[min(len(xs) - 1, math.ceil(q * len(xs)) - 1)]
            assert abs(est - exact) <= 1000.0, (r.l_returnflag, q, est, exact)


def _decimal_sum(col):
    return F.sum(F.col(col).cast("decimal(22,6)")).cast("double")


def test_stream_sliding_equals_batch_twin(spark, sf_dir):
    """stream_sliding must equal the batch sliding-window twin
    (each event contributes to both overlapping windows)."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_sliding

    got = {
        r.window_start: (r.n_events, r.total_value)
        for r in stream_sliding(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _decimal_sum("value").alias("total_value"),
        )
        .select(F.col("window.start").alias("ws"), "n_events", "total_value")
    )
    want = {r.ws: (r.n_events, r.total_value) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_session_equals_batch_twin(spark, sf_dir):
    """stream_session (streaming session_window state op) must equal the
    batch session_window aggregate over the same events."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_session

    got = {
        (r.user_id, r.session_start): (r.n_events, r.duration_sec)
        for r in stream_session(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
        )
        .select(
            "user_id",
            F.col("mn").alias("session_start"),
            "n_events",
            (
                F.expr("unix_micros(CAST(mx AS TIMESTAMP)) div 1000000")
                - F.expr("unix_micros(CAST(mn AS TIMESTAMP)) div 1000000")
            ).alias("duration_sec"),
        )
    )
    want = {
        (r.user_id, r.session_start): (r.n_events, r.duration_sec)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_static_join_equals_batch_twin(spark, sf_dir):
    """stream_static_join (per-micro-batch broadcast enrichment) must
    equal the batch join+aggregate twin."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_static_join

    got = {
        (r.n_name, r.event_type): (r.n_events, r.total_value)
        for r in stream_static_join(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    n = load(spark, sf_dir, "nation")
    batch = (
        e.join(F.broadcast(n), e.user_id % 25 == n.n_nationkey)
        .groupBy("n_name", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _decimal_sum("value").alias("total_value"),
        )
    )
    want = {
        (r.n_name, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_stateful_custom_equals_batch_twin(spark, sf_dir):
    """stream_stateful_custom (applyInPandasWithState explicit GroupState)
    must equal the batch per-user aggregate: exact decimal spend, count,
    running max."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_stateful_custom

    got = {
        r.user_id: (r.n_events, r.total_spend, r.max_single)
        for r in stream_stateful_custom(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    batch = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _decimal_sum("value").alias("total_spend"),
        F.max("value").cast("double").alias("max_single"),
    )
    want = {
        r.user_id: (r.n_events, r.total_spend, r.max_single)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_foreach_batch_equals_batch_twin(spark, sf_dir):
    """stream_foreach_batch (micro-batch UPSERT into a keyed state
    table) must end at the batch latest-event-per-user answer."""
    from pyspark.sql import Window as W

    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_foreach_batch

    got = {
        r.user_id: (r.last_event_id, r.last_value)
        for r in stream_foreach_batch(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    batch = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )
    want = {r.user_id: (r.event_id, r.value) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_stream_join_equals_batch_twin(spark, sf_dir):
    """stream_stream_join (watermarked interval join) must emit exactly
    the batch interval self-join's click→purchase pairs."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_stream_join

    got = {
        (r.purchase_id, r.click_id): r.gap_sec
        for r in stream_stream_join(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    batch = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("cts") <= F.col("pts")),
    ).select(
        "purchase_id",
        "click_id",
        (
            F.expr("unix_micros(CAST(pts AS TIMESTAMP)) div 1000000")
            - F.expr("unix_micros(CAST(cts AS TIMESTAMP)) div 1000000")
        ).alias("gap_sec"),
    )
    want = {(r.purchase_id, r.click_id): r.gap_sec for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_transform_with_state_equals_batch_twin(spark, sf_dir):
    """stream_transform_with_state (TWS MapState, or its gated
    applyInPandasWithState twin) must equal the batch per-(user, type)
    count."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import (
        stream_transform_with_state,
    )

    got = {
        (r.user_id, r.event_type): r.n_events
        for r in stream_transform_with_state(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    want = {
        (r.user_id, r.event_type): r.n
        for r in e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_rollup_incremental_equals_batch_twin(spark, sf_dir):
    """stream_rollup_incremental (foreachBatch-maintained minute partials
    re-rolled to hours) must be bit-identical to the direct batch hourly
    aggregate — the continuous-aggregate mergeability property."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import (
        stream_rollup_incremental,
    )

    got = {
        (r.bucket_ts, r.event_type): (
            r.n_events,
            r.sum_value,
            r.min_value,
            r.max_value,
        )
        for r in stream_rollup_incremental(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    batch = e.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _decimal_sum("value").alias("sum_value"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
    )
    want = {
        (r.bucket_ts, r.event_type): (
            r.n_events,
            r.sum_value,
            r.min_value,
            r.max_value,
        )
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_watermark_late_drops_only_and_respects_watermark(spark, sf_dir):
    """stream_watermark_late: the late-arrival policy may only DROP
    events relative to the batch windowed counts (never invent or
    double-count), and append mode must emit no window whose end exceeds
    the final watermark (global max ts - 10 min)."""
    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import stream_watermark_late

    got = {
        r.window_start: r.n_events
        for r in stream_watermark_late(spark, sf_dir).collect()
    }
    e = load(spark, sf_dir, "events")
    batch = {
        r.ws: r.n
        for r in e.groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
        .collect()
    }
    import datetime

    max_ts = e.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(minutes=10)
    assert got  # newest two thirds survive on this fixture
    for ws, n in got.items():
        assert 0 < n <= batch[ws]
        assert ws + datetime.timedelta(minutes=10) <= wm


def test_semi_anti_match_python_exists(spark, sf_dir):
    """join_semi / join_anti vs Python EXISTS / NOT EXISTS over the
    collected tables (semi: >=1 urgent order; anti: no pending order).
    Neither may duplicate customer rows."""
    from insight_patents_spark.operators.joins import join_anti, join_semi
    from insight_patents_spark.sources.tables import load

    custs = {
        r.c_custkey: r.c_name
        for r in load(spark, sf_dir, "customer").collect()
    }
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderstatus"
    ).collect()
    urgent = {r.o_custkey for r in orders if r.o_orderpriority == "1-URGENT"}
    pending = {r.o_custkey for r in orders if r.o_orderstatus == "P"}

    semi = [(r.c_custkey, r.c_name) for r in join_semi(spark, sf_dir).collect()]
    assert len(semi) == len(set(semi))  # no duplication
    assert {k for k, _ in semi} == {k for k in custs if k in urgent}

    anti = [(r.c_custkey, r.c_name) for r in join_anti(spark, sf_dir).collect()]
    assert len(anti) == len(set(anti))
    assert {k for k, _ in anti} == {k for k in custs if k not in pending}


def test_full_outer_reconciles_with_dict_merge(spark, sf_dir):
    """join_full_outer vs a Python dict merge: matched rows carry both
    counts, left-only rows have NULL right key, right-only rows NULL
    left key, and the three classes partition the key union."""
    from insight_patents_spark.operators.joins import join_full_outer
    from insight_patents_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus"
    ).collect()
    a, b = {}, {}
    for r in orders:
        if r.o_orderstatus == "O":
            a[r.o_custkey] = a.get(r.o_custkey, 0) + 1
        elif r.o_orderstatus == "F":
            b[r.o_custkey] = b.get(r.o_custkey, 0) + 1
    got = join_full_outer(spark, sf_dir).collect()
    seen = set()
    for r in got:
        k = r.k_a if r.k_a is not None else r.k_b
        assert k not in seen  # keys appear exactly once
        seen.add(k)
        if r.k_a is not None and r.k_b is not None:
            assert r.k_a == r.k_b and a[k] == r.cnt_a and b[k] == r.cnt_b
        elif r.k_a is not None:
            assert k in a and k not in b and r.cnt_a == a[k] and r.cnt_b is None
        else:
            assert k in b and k not in a and r.cnt_b == b[k] and r.cnt_a is None
    assert seen == set(a) | set(b)


def test_left_outer_null_padding_exact(spark, sf_dir):
    """join_left_outer vs Python: every selected order appears (padded
    with NULLs when no heavy lineitem matches), and matched pairs are
    exactly the brute-force pairs."""
    from insight_patents_spark.operators.joins import join_left_outer
    from insight_patents_spark.sources.tables import load

    o = {
        r.o_orderkey: r.o_totalprice
        for r in load(spark, sf_dir, "orders").collect()
        if r.o_orderkey % 7 == 0
    }
    li = [
        (r.l_orderkey, r.l_linenumber, r.l_quantity)
        for r in load(spark, sf_dir, "lineitem").collect()
        if r.l_quantity > 45 and r.l_orderkey in o
    ]
    want_matched = {(k, ln, q) for k, ln, q in li}
    matched_keys = {k for k, _, _ in li}
    got = join_left_outer(spark, sf_dir).collect()
    got_matched = {
        (r.o_orderkey, r.l_linenumber, r.l_quantity)
        for r in got
        if r.l_linenumber is not None
    }
    got_padded = {r.o_orderkey for r in got if r.l_linenumber is None}
    assert got_matched == want_matched
    assert got_padded == set(o) - matched_keys
    for r in got:
        assert r.o_totalprice == o[r.o_orderkey]


def test_interval_join_matches_bruteforce(spark, sf_dir):
    """join_interval vs a per-user brute force over collected events:
    exactly the ordered pairs within the forward 5-minute window."""
    from insight_patents_spark.operators.joins import join_interval
    from insight_patents_spark.sources.tables import load

    by_user = {}
    for r in load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    ).collect():
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id))
    want = set()
    import datetime

    five = datetime.timedelta(minutes=5)
    for u, evs in by_user.items():
        evs.sort()
        for i, (t1, e1) in enumerate(evs):
            for t2, e2 in evs:
                if t1 < t2 <= t1 + five:
                    want.add((e1, e2, u))
    got = {
        (r.eid_a, r.eid_b, r.user_id)
        for r in join_interval(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_theta_range_matches_bruteforce(spark, sf_dir):
    """join_theta_range vs brute force per brand block."""
    from insight_patents_spark.operators.joins import join_theta_range
    from insight_patents_spark.sources.tables import load

    parts = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    ).collect()
    by_brand = {}
    for r in parts:
        by_brand.setdefault(r.p_brand, []).append((r.p_partkey, r.p_size))
    want = set()
    for brand, ps in by_brand.items():
        for ka, sa in ps:
            for kb, sb in ps:
                if sa < sb:
                    want.add((ka, kb, brand, sb - sa))
    got = {
        (r.small_part, r.big_part, r.p_brand, r.size_gap)
        for r in join_theta_range(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_null_safe_join_keeps_null_bucket(spark, sf_dir):
    """join_null_safe: the NULL key group must survive as a real join
    group (an ordinary equi-join would drop it), and every group count
    must match Python's null-safe semantics."""
    from insight_patents_spark.operators.joins import join_null_safe
    from insight_patents_spark.sources.tables import load

    o_keys = [
        (r.o_orderpriority[:1] if r.o_orderpriority[:1] != "3" else None)
        for r in load(spark, sf_dir, "orders").select("o_orderpriority").collect()
    ]
    p_keys = {
        (str(r.p_size % 5 + 1) if str(r.p_size % 5 + 1) != "3" else None)
        for r in load(spark, sf_dir, "part").select("p_size").collect()
    }
    want = {}
    for k in o_keys:
        if k in p_keys:  # None in p_keys matches None -> null-safe
            label = k if k is not None else "NULL"
            want[label] = want.get(label, 0) + 1
    got = {r.pri_key: r.n_orders for r in join_null_safe(spark, sf_dir).collect()}
    assert got == want
    assert "NULL" in got and got["NULL"] > 0


def test_cross_join_is_exact_product(spark, sf_dir):
    """join_cross: exactly |region| x |nation| rows, every combination
    once."""
    from insight_patents_spark.operators.joins import join_cross
    from insight_patents_spark.sources.tables import load

    r_names = [r.r_name for r in load(spark, sf_dir, "region").collect()]
    n_names = [r.n_name for r in load(spark, sf_dir, "nation").collect()]
    got = [(r.r_name, r.n_name) for r in join_cross(spark, sf_dir).collect()]
    assert len(got) == len(r_names) * len(n_names)
    assert set(got) == {(a, b) for a in r_names for b in n_names}


def test_self_2hop_matches_bruteforce(spark, sf_dir):
    """join_self_2hop (the co-occurrence edge builder every §2.9 graph op
    rests on) vs a Python per-order pair count."""
    from collections import Counter
    from itertools import combinations

    from insight_patents_spark.operators.joins import join_self_2hop
    from insight_patents_spark.sources.tables import load

    by_order = {}
    for r in load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect():
        by_order.setdefault(r.l_orderkey, []).append(r.l_partkey)
    want = Counter()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            if a < b:
                want[(a, b)] += 1
    got = Counter(
        {
            (r.part_a, r.part_b): r.n_orders
            for r in join_self_2hop(spark, sf_dir).collect()
        }
    )
    assert got == want and len(got) > 0


def test_runtime_bloom_join_equals_unfiltered_twin(spark, sf_dir):
    """join_runtime_bloom: the bloom-filter-pruned shuffle join must
    return exactly the plain broadcast-join answer (runtime filters are
    a pure optimization; any row difference is corruption)."""
    from insight_patents_spark.operators.relational import join_runtime_bloom
    from insight_patents_spark.sources.tables import load

    got = {
        r.o_orderpriority: (r.n_items, r.revenue)
        for r in join_runtime_bloom(spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plain = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(22,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    want = {
        r.o_orderpriority: (r.n_items, r.revenue) for r in plain.collect()
    }
    assert got == want and len(got) == 1


def test_inner_equi_chain_matches_python_merge(spark, sf_dir):
    """join_inner_equi (lineitem⋈orders⋈customer) vs a Python dict-merge
    aggregate: group counts exact, revenue equal to 1e-6 (Spark folds
    decimal-exact; Python sums the same finite set)."""
    from collections import Counter

    from insight_patents_spark.operators.joins import join_inner_equi
    from insight_patents_spark.sources.tables import load

    o = {
        r.o_orderkey: (r.o_custkey, r.o_orderpriority)
        for r in load(spark, sf_dir, "orders").collect()
    }
    c = {
        r.c_custkey: r.c_mktsegment
        for r in load(spark, sf_dir, "customer").collect()
    }
    cnt, rev = Counter(), Counter()
    for r in load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).collect():
        custkey, pri = o[r.l_orderkey]
        key = (c[custkey], pri)
        cnt[key] += 1
        rev[key] += r.l_extendedprice * (1 - r.l_discount)
    got = {
        (r.c_mktsegment, r.o_orderpriority): (r.n_items, r.revenue)
        for r in join_inner_equi(spark, sf_dir).collect()
    }
    assert set(got) == set(cnt)
    for k, (n, v) in got.items():
        assert n == cnt[k] and abs(v - rev[k]) < 1e-6 * max(1.0, abs(rev[k]))


def _brute_graph(spark, sf_dir):
    """Python twin of _pairs/_edges: co-occurrence pairs (a<b) with
    count >= MIN_SUPPORT, plus the both-direction adjacency."""
    from collections import Counter
    from itertools import combinations

    from insight_patents_spark.sources.tables import load

    by_order = {}
    for r in load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect():
        by_order.setdefault(r.l_orderkey, []).append(r.l_partkey)
    pc = Counter()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            if a < b:
                pc[(a, b)] += 1
    pairs = {k: w for k, w in pc.items() if w >= 2}  # MIN_SUPPORT
    adj = {}
    for (a, b), w in pairs.items():
        adj.setdefault(a, {})[b] = w
        adj.setdefault(b, {})[a] = w
    return pairs, adj


def _brute_bfs(adj, seeds, depth):
    """Synchronous min-dist BFS, matching relax's fixed-round min-agg."""
    dist = {s: 0 for s in seeds}
    for _ in range(depth):
        new = dict(dist)
        for v, d in dist.items():
            for u in adj.get(v, ()):
                if u not in new or d + 1 < new[u]:
                    new[u] = d + 1
        dist = new
    return dist


# A directed path 1→…→5 into the sink 5, a 3-cycle 10→11→12→10, and a
# weighted diamond where the 3-hop route 20→22→23→21 (cost 3) beats the
# direct edge 20→21 (cost 10); 3→20 joins the path to the diamond.
_RELAX_EDGES = (
    [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1), (3, 20, 1)]
    + [(10, 11, 2), (11, 12, 2), (12, 10, 2)]
    + [(20, 21, 10), (20, 22, 1), (22, 23, 1), (23, 21, 1), (21, 12, 1)]
)
_RELAX_NODES = sorted({v for e in _RELAX_EDGES for v in e[:2]})
_RELAX_SEEDS = (1, 20)
_RELAX_ROUNDS = 4  # relax checkpoints after round 3, not after round 4

# case -> (round-0 rows (*keys, node, value), step as Python, as a Spark
# expression, as SQL over frontier f and edge e, key columns, value)
_RELAX_CASES = {
    "hop": (
        [(s, 0) for s in _RELAX_SEEDS],
        lambda v, w: v + 1, "dist + 1", "f.dist + 1", (), "dist",
    ),
    "weighted": (
        [(s, 0) for s in _RELAX_SEEDS],
        lambda v, w: v + w, "dist + w", "f.dist + e.w", (), "dist",
    ),
    "seeded": (
        [(s, s, 0) for s in _RELAX_SEEDS],
        lambda v, w: v + 1, "dist + 1", "f.dist + 1", ("seed",), "dist",
    ),
    "label": (
        [(v, v) for v in _RELAX_NODES],
        lambda v, w: v, "lbl", "f.lbl", (), "lbl",
    ),
}


def _relax_replay(start, rounds, step):
    """Python replay of relax's round: every (keys, node) row steps
    along each out-edge; the min value per (keys, node) survives."""
    cur = {r[:-1]: r[-1] for r in start}
    for _ in range(rounds):
        new = dict(cur)
        for (*keys, node), v in cur.items():
            for src, dst, w in _RELAX_EDGES:
                if src == node:
                    k = (*keys, dst)
                    new[k] = min(new.get(k, step(v, w)), step(v, w))
        cur = new
    return sorted((*k, v) for k, v in cur.items())


@pytest.mark.parametrize("case", list(_RELAX_CASES))
def test_relax_equals_sql_twin(spark, case):
    """graph.relax and graph.relax_ctes agree row for row on a small
    graph with a path, a cycle, a weighted diamond and a sink, and both
    equal a Python replay of the same rounds."""
    import duckdb

    from insight_patents_spark.operators.graph import relax, relax_ctes

    start, py_step, step, sql_step, keys, value = _RELAX_CASES[case]
    cols = [*keys, "node", value]
    schema = ", ".join(f"{c} long" for c in cols)
    edges = spark.createDataFrame(_RELAX_EDGES, "src long, dst long, w long")
    frontier = spark.createDataFrame(start, schema)
    got = sorted(
        tuple(r) for r in relax(frontier, edges, _RELAX_ROUNDS, F.expr(step))
        .select(*cols)
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges AS SELECT * FROM (VALUES "
        + ", ".join(map(str, _RELAX_EDGES))
        + ") t(src, dst, w)"
    )
    sql = (
        "WITH x0 AS (SELECT * FROM (VALUES "
        + ", ".join(map(str, start))
        + f") t({', '.join(cols)}))"
        + relax_ctes("x", _RELAX_ROUNDS, sql_step, keys, value=value)
        + f" SELECT {', '.join(cols)} FROM x{_RELAX_ROUNDS}"
    )
    want = sorted(con.execute(sql).fetchall())
    con.close()
    assert got == want
    assert got == _relax_replay(start, _RELAX_ROUNDS, py_step)


def test_graph_build_and_degree_match_bruteforce(spark, sf_dir):
    """graph_build == the Python co-occurrence pair count (min-support
    pruned); graph_degree == per-node neighbor count / weight sum on the
    both-direction adjacency."""
    from insight_patents_spark.operators.graph import graph_build, graph_degree

    pairs, adj = _brute_graph(spark, sf_dir)
    got_pairs = {
        (r.pa, r.pb): r.w for r in graph_build(spark, sf_dir).collect()
    }
    assert got_pairs == pairs and len(pairs) > 0
    got_deg = {
        r.node: (r.degree, r.weighted_degree)
        for r in graph_degree(spark, sf_dir).collect()
    }
    want_deg = {v: (len(ns), sum(ns.values())) for v, ns in adj.items()}
    assert got_deg == want_deg


def test_graph_bfs_and_shortest_path_match_bruteforce(spark, sf_dir):
    """graph_bfs_khop (3-hop from the mod-500 seed set) and
    graph_shortest_path (depth-6 from the min node) vs Python BFS."""
    from insight_patents_spark.operators.graph import (
        graph_bfs_khop,
        graph_shortest_path,
    )

    _, adj = _brute_graph(spark, sf_dir)
    seeds = {v for v in adj if v % 500 == 0}
    want = _brute_bfs(adj, seeds, 3)
    got = {r.node: r.dist for r in graph_bfs_khop(spark, sf_dir).collect()}
    assert got == want and len(got) > 0

    s = min(adj)
    want = _brute_bfs(adj, {s}, 6)
    got = {r.node: r.dist for r in graph_shortest_path(spark, sf_dir).collect()}
    assert got == want


def test_sssp_weighted_matches_bruteforce(spark, sf_dir):
    """graph_sssp_weighted vs Python synchronous Bellman-Ford with the
    same fixed 6 rounds (distances exact for <=6-hop paths)."""
    from insight_patents_spark.operators.graph import graph_sssp_weighted

    _, adj = _brute_graph(spark, sf_dir)
    s = min(adj)
    dist = {s: 0}
    for _ in range(6):
        new = dict(dist)
        for v, d in dist.items():
            for u, w in adj.get(v, {}).items():
                nd = d + w
                if u not in new or nd < new[u]:
                    new[u] = nd
        dist = new
    got = {r.node: r.dist for r in graph_sssp_weighted(spark, sf_dir).collect()}
    assert got == dist and len(got) > 1


def test_closeness_matches_bruteforce(spark, sf_dir):
    """graph_closeness (sampled harmonic centrality, exact-sixths
    accumulation) vs Python per-seed BFS to depth 3."""
    from insight_patents_spark.operators.graph import graph_closeness

    _, adj = _brute_graph(spark, sf_dir)
    seeds = {v for v in adj if v % 250 == 0}
    reached = {}
    for s in seeds:
        for v, d in _brute_bfs(adj, {s}, 3).items():
            if d > 0:
                reached.setdefault(v, []).append(d)
    want = {
        v: (len(ds), sum(6 // d for d in ds) / 6.0) for v, ds in reached.items()
    }
    got = {
        r.node: (r.n_seeds_reached, r.harmonic)
        for r in graph_closeness(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_hits_matches_python_power_iteration(spark, sf_dir):
    """graph_hits vs a Python replication of the same 3 max-normalized
    iterations in int64 femto-units: raw scores are exact integer sums,
    and the max-normalize requantizes via the identical IEEE
    float(raw)/float(max)·SCALE floor — bit-equal, no tolerance."""
    import math

    from insight_patents_spark.operators.graph import RANK_SCALE, graph_hits

    pairs, _ = _brute_graph(spark, sf_dir)
    de = sorted(pairs)  # (src < dst) directed half
    out_of = {}
    into = {}
    for s, d in de:
        out_of.setdefault(s, []).append(d)
        into.setdefault(d, []).append(s)

    def _requant(raw: int, mx: int) -> int:
        # mirror the engines: operands cast to double FIRST (raw can
        # exceed 2^53, where int/int true division would round
        # differently), then one IEEE divide+multiply+floor
        return math.floor(float(raw) / float(mx) * float(RANK_SCALE))

    a = {d: RANK_SCALE for d in into}
    h = {}
    for _ in range(3):
        hraw = {
            s: sum(a[d] for d in ds if d in a)
            for s, ds in out_of.items()
            if any(d in a for d in ds)
        }
        hm = max(hraw.values())
        h = {s: _requant(v, hm) for s, v in hraw.items()}
        araw = {
            d: sum(h[s] for s in ss if s in h)
            for d, ss in into.items()
            if any(s in h for s in ss)
        }
        am = max(araw.values())
        a = {d: _requant(v, am) for d, v in araw.items()}
    want = {}
    for n in set(h) | set(a):
        want[n] = (h.get(n, 0) / float(RANK_SCALE), a.get(n, 0) / float(RANK_SCALE))
    got = {
        r.node: (r.hub, r.authority) for r in graph_hits(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for n, (hub, auth) in got.items():
        assert hub == want[n][0] and auth == want[n][1], n


def _sorted_fold(xs):
    acc = 0.0
    for x in sorted(xs):
        acc = acc + x
    return acc


def test_random_walks_match_md5_replay(spark, sf_dir):
    """graph_random_walks vs a Python replay of the md5-ranked neighbor
    picks — byte-identical paths (the reproducibility property that
    makes the walk corpus safe as training data)."""
    import hashlib

    from insight_patents_spark.operators.graph import graph_random_walks

    _, adj = _brute_graph(spark, sf_dir)
    want = {}
    for start in (v for v in adj if v % 100 == 0):
        cur, path = start, str(start)
        for t in range(1, 5):
            nbrs = sorted(adj[cur])
            pick = (
                int(
                    hashlib.md5(f"{start}:{cur}:{t}".encode()).hexdigest()[:8], 16
                )
                % len(nbrs)
            )
            cur = nbrs[pick]
            path += f"->{cur}"
        want[start] = (cur, path)
    got = {
        r.start: (r.end_node, r.path)
        for r in graph_random_walks(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_assoc_rules_match_bruteforce(spark, sf_dir):
    """graph_assoc_rules vs Python support/confidence/lift from the raw
    baskets (9dp, exact integer ratios)."""
    from insight_patents_spark.operators.graph import graph_assoc_rules
    from insight_patents_spark.sources.tables import load

    pairs, _ = _brute_graph(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect()
    item_orders = {}
    baskets = set()
    for r in li:
        item_orders.setdefault(r.l_partkey, set()).add(r.l_orderkey)
        baskets.add(r.l_orderkey)
    nb = len(baskets)
    want = {}
    for (a, b), w in pairs.items():
        for ant, con in ((a, b), (b, a)):
            na, nc = len(item_orders[ant]), len(item_orders[con])
            if w / na >= 0.08:
                want[(ant, con)] = (
                    w,
                    round(w / na, 9),
                    round(w * nb / (na * nc), 9),
                )
    got = {
        (r.antecedent, r.consequent): (r.pair_support, r.confidence, r.lift)
        for r in graph_assoc_rules(spark, sf_dir).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k, (w, conf, lift) in got.items():
        assert w == want[k][0]
        assert abs(conf - want[k][1]) < 1e-9 and abs(lift - want[k][2]) < 1e-9


def _dec6(x):
    """Python twin of Spark's CAST(double AS DECIMAL(22,6))."""
    import decimal

    return decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP
    )


def _dec6sum(xs):
    """Python twin of dsum: exact decimal(22,6) sum -> nearest double."""
    import decimal

    return float(sum((_dec6(x) for x in xs), decimal.Decimal(0)))


def test_agg_global_and_filtered_match_decimal_sums(spark, sf_dir):
    """agg_global / agg_filtered vs Python exact-decimal accumulation —
    bit-identical sums (the dsum determinism contract), exact counts."""
    from insight_patents_spark.operators.aggregates import (
        agg_filtered,
        agg_global,
    )
    from insight_patents_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    ).collect()
    g = agg_global(spark, sf_dir).collect()[0]
    assert g.n_rows == len(li)
    assert g.total_qty == _dec6sum(r.l_quantity for r in li)
    assert g.min_price == min(r.l_extendedprice for r in li)
    assert g.max_price == max(r.l_extendedprice for r in li)
    assert g.avg_discount == _dec6sum(r.l_discount for r in li) / len(li)

    want = {}
    for r in li:
        want.setdefault(r.l_returnflag, []).append(r)
    got = {r.l_returnflag: r for r in agg_filtered(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for flag, rows in want.items():
        o = got[flag]
        assert o.total_price == _dec6sum(r.l_extendedprice for r in rows)
        assert o.big_qty_price == _dec6sum(
            r.l_extendedprice for r in rows if r.l_quantity > 25
        )
        assert o.n_discounted == sum(1 for r in rows if r.l_discount > 0.05)


def test_distinct_count_family_matches_python_sets(spark, sf_dir):
    """agg_count_distinct / agg_multi_distinct vs Python set sizes."""
    from insight_patents_spark.operators.aggregates import (
        agg_count_distinct,
        agg_multi_distinct,
    )
    from insight_patents_spark.sources.tables import load

    cust = load(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    ).collect()
    seg = {}
    for r in cust:
        seg.setdefault(r.c_mktsegment, []).append(r.c_nationkey)
    got = {
        r.c_mktsegment: (r.n_nations, r.n_customers)
        for r in agg_count_distinct(spark, sf_dir).collect()
    }
    assert got == {s: (len(set(ks)), len(ks)) for s, ks in seg.items()}

    orders = load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey", "o_orderpriority"
    ).collect()
    st = {}
    for r in orders:
        st.setdefault(r.o_orderstatus, []).append(r)
    got = {
        r.o_orderstatus: (r.n_customers, r.n_priorities, r.n_orders)
        for r in agg_multi_distinct(spark, sf_dir).collect()
    }
    assert got == {
        s: (
            len({r.o_custkey for r in rs}),
            len({r.o_orderpriority for r in rs}),
            len(rs),
        )
        for s, rs in st.items()
    }


def test_rollup_cube_grouping_sets_levels_reconcile(spark, sf_dir):
    """agg_rollup / agg_cube / agg_grouping_sets: every grouping level's
    rows equal the Python aggregation of that level, keyed by gid (the
    NULL-as-total vs NULL-as-value disambiguator)."""
    from collections import Counter

    from insight_patents_spark.operators.aggregates import (
        agg_cube,
        agg_grouping_sets,
        agg_rollup,
    )
    from insight_patents_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders").select(
        "o_orderdate", "o_orderpriority"
    ).collect()
    base = Counter((r.o_orderdate.year, r.o_orderpriority) for r in orders)
    want = {}
    for (y, p), n in base.items():
        want[(y, p, 0)] = want.get((y, p, 0), 0) + n
        want[(y, None, 1)] = want.get((y, None, 1), 0) + n
        want[(None, None, 3)] = want.get((None, None, 3), 0) + n
    got = {
        (r.order_year, r.o_orderpriority, r.gid): r.n_orders
        for r in agg_rollup(spark, sf_dir).collect()
    }
    assert got == want

    cust = load(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    ).collect()
    nat = {
        r.n_nationkey: r.n_name
        for r in load(spark, sf_dir, "nation").collect()
    }
    base = Counter((r.c_mktsegment, nat[r.c_nationkey]) for r in cust)
    want = {}
    for (s, n), c in base.items():
        for key, gid in (
            ((s, n), 0),
            ((s, None), 1),
            ((None, n), 2),
            ((None, None), 3),
        ):
            k = (key[0], key[1], gid)
            want[k] = want.get(k, 0) + c
    got = {
        (r.c_mktsegment, r.n_name, r.gid): r.n_customers
        for r in agg_cube(spark, sf_dir).collect()
    }
    assert got == want

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).collect()
    want = {}
    for r in li:
        for key, gid in (
            ((r.l_returnflag, None), 1),
            ((None, r.l_linestatus), 2),
            ((None, None), 3),
        ):
            k = (key[0], key[1], gid)
            want[k] = want.get(k, 0) + 1
    got = {
        (r.l_returnflag, r.l_linestatus, r.gid): r.n_items
        for r in agg_grouping_sets(spark, sf_dir).collect()
    }
    assert got == want


def test_pivot_unpivot_bool_collect_match_python(spark, sf_dir):
    """agg_pivot (wide counts, 0-filled), agg_unpivot (long reshape
    totals), agg_bool (every/any), agg_collect (sorted key lists) vs
    Python over the collected tables."""
    from collections import Counter

    from insight_patents_spark.operators.aggregates import (
        agg_bool,
        agg_collect,
        agg_pivot,
        agg_unpivot,
    )
    from insight_patents_spark.sources.tables import load

    events = load(spark, sf_dir, "events").select(
        "user_id", "event_type"
    ).collect()
    types = ["click", "error", "purchase", "signup", "view"]
    cnt = Counter((r.user_id, r.event_type) for r in events)
    users = {r.user_id for r in events}
    got = {
        r.user_id: tuple(r[t] for t in types)
        for r in agg_pivot(spark, sf_dir).collect()
    }
    assert got == {u: tuple(cnt.get((u, t), 0) for t in types) for u in users}

    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).collect()
    got = {r.metric: (r.n_rows, r.total, r.mean) for r in agg_unpivot(spark, sf_dir).collect()}
    for metric in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        xs = [r[metric] for r in li]
        n, tot, mean = got[metric]
        assert n == len(xs) and tot == _dec6sum(xs) and mean == _dec6sum(xs) / n

    orders = load(spark, sf_dir, "orders").collect()
    grp = {}
    for r in orders:
        grp.setdefault(r.o_orderpriority, []).append(r)
    got = {
        r.o_orderpriority: (r.all_over_1k, r.any_finished, r.n_big)
        for r in agg_bool(spark, sf_dir).collect()
    }
    assert got == {
        p: (
            all(r.o_totalprice > 1000 for r in rs),
            any(r.o_orderstatus == "F" for r in rs),
            sum(1 for r in rs if r.o_totalprice > 200000),
        )
        for p, rs in grp.items()
    }

    big = [r for r in orders if r.o_totalprice > 250000]
    keys = {}
    for r in big:
        keys.setdefault(r.o_custkey, []).append(r.o_orderkey)
    got = {
        r.o_custkey: (r.order_keys, r.n_orders)
        for r in agg_collect(spark, sf_dir).collect()
    }
    assert got == {
        u: (",".join(str(k) for k in sorted(ks)), len(ks))
        for u, ks in keys.items()
    }


def test_agg_stats_and_percentile_match_numpy(spark, sf_dir):
    """agg_stats (sample var/std/corr/cov, 6dp) and agg_percentile
    (linear-interpolation quantiles, 4dp) vs NumPy."""
    import numpy as np

    from insight_patents_spark.operators.aggregates import (
        agg_percentile,
        agg_stats,
    )
    from insight_patents_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_quantity", "l_discount"
    ).collect()
    grp = {}
    for r in li:
        grp.setdefault(r.l_linestatus, []).append((r.l_quantity, r.l_discount))
    got = {r.l_linestatus: r for r in agg_stats(spark, sf_dir).collect()}
    assert set(got) == set(grp)
    for s, pairs in grp.items():
        q = np.array([p[0] for p in pairs])
        d = np.array([p[1] for p in pairs])
        r = got[s]
        assert abs(r.sd_qty - np.std(q, ddof=1)) < 2e-6
        assert abs(r.var_qty - np.var(q, ddof=1)) < 2e-6
        assert abs(r.corr_qd - np.corrcoef(q, d)[0, 1]) < 2e-6
        cov = np.cov(q, d, ddof=1)[0, 1]
        assert abs(r.cov_qd - cov) < 2e-6

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice").collect()
    seg_of = {
        r.c_custkey: r.c_mktsegment
        for r in load(spark, sf_dir, "customer").collect()
    }
    grp = {}
    for r in o:
        grp.setdefault(seg_of[r.o_custkey], []).append(r.o_totalprice)
    got = {r.c_mktsegment: r for r in agg_percentile(spark, sf_dir).collect()}
    assert set(got) == set(grp)
    for s, xs in grp.items():
        assert abs(got[s].median_total - np.percentile(xs, 50)) < 2e-4
        assert abs(got[s].p90_total - np.percentile(xs, 90)) < 2e-4


def test_window_battery_matches_python_replay(spark, sf_dir):
    """win_lag_lead / win_running_sum / win_moving_avg / win_first_last /
    win_cume_nth vs a Python replay over per-partition sorted rows —
    exact lags, bit-identical decimal prefix sums, full-frame
    first/last, cume_dist and nth_value."""
    import decimal

    from insight_patents_spark.operators.windows import (
        win_cume_nth,
        win_first_last,
        win_lag_lead,
        win_moving_avg,
        win_running_sum,
    )
    from insight_patents_spark.sources.tables import load

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    ).collect()
    by_user = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))

    got = {r.event_id: r for r in win_lag_lead(spark, sf_dir).collect()}
    for rows in by_user.values():
        for i, r in enumerate(rows):
            o = got[r.event_id]
            assert o.prev_event == (rows[i - 1].event_id if i else None)
            assert o.next_event == (
                rows[i + 1].event_id if i + 1 < len(rows) else None
            )
            if i:
                ms = (
                    int(r.ts.timestamp() * 1_000_000) // 1000
                    - int(rows[i - 1].ts.timestamp() * 1_000_000) // 1000
                )
                assert o.ms_since_prev == ms

    got = {r.event_id: r.mov_avg_value for r in win_moving_avg(spark, sf_dir).collect()}
    for rows in by_user.values():
        for i, r in enumerate(rows):
            frame = rows[max(0, i - 2) : i + 1]
            s = float(sum((_dec6(x.value) for x in frame), decimal.Decimal(0)))
            assert got[r.event_id] == s / len(frame)

    got = {r.event_id: r for r in win_first_last(spark, sf_dir).collect()}
    by_day = {}
    for r in events:
        by_day.setdefault((r.user_id, r.ts.date()), []).append(r)
    for rows in by_day.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        for r in rows:
            assert got[r.event_id].day_first_type == rows[0].event_type
            assert got[r.event_id].day_last_type == rows[-1].event_type

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).collect()
    by_cust = {}
    for r in orders:
        by_cust.setdefault(r.o_custkey, []).append(r)
    got = {
        r.o_orderkey: r.running_spend
        for r in win_running_sum(spark, sf_dir).collect()
    }
    for rows in by_cust.values():
        rows.sort(key=lambda r: (r.o_orderdate, r.o_orderkey))
        acc = decimal.Decimal(0)
        for r in rows:
            acc += _dec6(r.o_totalprice)
            assert got[r.o_orderkey] == float(acc)

    got = {r.o_orderkey: r for r in win_cume_nth(spark, sf_dir).collect()}
    for cust, rows in by_cust.items():
        if cust % 20 != 0:
            continue
        rows.sort(key=lambda r: (r.o_totalprice, r.o_orderkey))
        k = len(rows)
        second = rows[1].o_orderkey if k >= 2 else None
        for i, r in enumerate(rows):
            assert got[r.o_orderkey].cd == (i + 1) / k
            assert got[r.o_orderkey].second_key == second


def test_range_frame_matches_python(spark, sf_dir):
    """win_range_frame: RANGE BETWEEN 2 PRECEDING — frame membership by
    VALUE (all parts within size-2..size), not row position."""
    import decimal

    from insight_patents_spark.operators.windows import win_range_frame
    from insight_patents_spark.sources.tables import load

    parts = load(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    ).collect()
    got = {r.p_partkey: r for r in win_range_frame(spark, sf_dir).collect()}
    for r in parts:
        frame = [p for p in parts if r.p_size - 2 <= p.p_size <= r.p_size]
        s = float(sum((_dec6(p.p_retailprice) for p in frame), decimal.Decimal(0)))
        assert got[r.p_partkey].n_in_size_band == len(frame)
        assert got[r.p_partkey].price_in_size_band == s


def test_argminmax_mode_weighted_median_match_python(spark, sf_dir):
    """agg_minmax_by (struct-tiebroken argmin/argmax), agg_mode
    (count+rank with value tie-break), agg_weighted_median (integer
    crossing rule) vs Python replays."""
    from collections import Counter

    from insight_patents_spark.operators.aggregates import (
        agg_minmax_by,
        agg_mode,
        agg_weighted_median,
    )
    from insight_patents_spark.sources.tables import load

    seg_of = {
        r.c_custkey: r.c_mktsegment
        for r in load(spark, sf_dir, "customer").collect()
    }
    by_seg = {}
    for r in load(spark, sf_dir, "orders").collect():
        by_seg.setdefault(seg_of[r.o_custkey], []).append(
            (r.o_totalprice, r.o_orderkey)
        )
    got = {r.c_mktsegment: r for r in agg_minmax_by(spark, sf_dir).collect()}
    assert set(got) == set(by_seg)
    for s, rows in by_seg.items():
        biggest = max(rows, key=lambda t: (t[0], -t[1]))
        smallest = min(rows)
        o = got[s]
        assert (o.biggest_order, o.biggest_total) == (biggest[1], max(rows)[0])
        assert (o.smallest_order, o.smallest_total) == (smallest[1], smallest[0])

    cnt = Counter()
    for r in load(spark, sf_dir, "events").select("user_id", "event_type").collect():
        cnt[(r.user_id, r.event_type)] += 1
    want = {}
    for (u, t), n in cnt.items():
        # max count, tie -> smallest event_type
        cur = want.get(u)
        if cur is None or n > cur[1] or (n == cur[1] and t < cur[0]):
            want[u] = (t, n)
    got = {
        r.user_id: (r.modal_type, r.modal_count)
        for r in agg_mode(spark, sf_dir).collect()
    }
    assert got == want

    by_flag = {}
    for r in load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber"
    ).collect():
        by_flag.setdefault(r.l_returnflag, []).append(
            (
                int(round(r.l_extendedprice * 100)),
                r.l_orderkey,
                r.l_linenumber,
                int(round(r.l_quantity)),
            )
        )
    got = {r.l_returnflag: r for r in agg_weighted_median(spark, sf_dir).collect()}
    for flag, rows in by_flag.items():
        rows.sort()
        tw = sum(w for *_, w in rows)
        cw = 0
        for price_c, _, _, w in rows:
            cw += w
            if 2 * cw >= tw:
                break
        o = got[flag]
        assert o.weighted_median_price == price_c / 100.0
        assert o.total_weight == tw


def test_ab_ttest_matches_python_welch(spark, sf_dir):
    """agg_ab_ttest vs Python Welch t / Welch–Satterthwaite df from the
    same exact integer-cent moments."""
    from insight_patents_spark.operators.aggregates import agg_ab_ttest
    from insight_patents_spark.sources.tables import load

    groups = {}
    for r in load(spark, sf_dir, "events").select("event_type", "value").collect():
        groups.setdefault(r.event_type, []).append(int(round(r.value * 100)))
    st = {}
    for t, cs in groups.items():
        n = len(cs)
        s1 = sum(cs)
        s2 = sum(c * c for c in cs)
        m = s1 / float(n)
        v = (s2 - s1 * (s1 / float(n))) / float(n - 1)
        st[t] = (n, m, v)
    got = {
        (r.type_a, r.type_b): (r.n_a, r.n_b, r.t_stat, r.welch_df)
        for r in agg_ab_ttest(spark, sf_dir).collect()
    }
    keys = sorted(st)
    want_pairs = {(a, b) for a in keys for b in keys if a < b}
    assert set(got) == want_pairs
    for (ta, tb), (na, nb, tstat, df) in got.items():
        (n_a, m_a, v_a), (n_b, m_b, v_b) = st[ta], st[tb]
        se2 = v_a / n_a + v_b / n_b
        want_t = (m_a - m_b) / se2**0.5
        want_df = se2**2 / (
            (v_a / n_a) ** 2 / (n_a - 1) + (v_b / n_b) ** 2 / (n_b - 1)
        )
        assert (na, nb) == (n_a, n_b)
        assert abs(tstat - want_t) < 1e-8 and abs(df - want_df) < 1e-8


def test_dau_mau_and_iqr_match_python(spark, sf_dir):
    """agg_dau_mau (exact day/month cardinalities, non-mergeable by
    design) and agg_iqr_outliers (type-1 quartiles, integer Tukey
    fences) vs Python."""
    from insight_patents_spark.operators.aggregates import (
        agg_dau_mau,
        agg_iqr_outliers,
    )
    from insight_patents_spark.sources.tables import load

    events = load(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "event_id", "value"
    ).collect()
    by_day, by_month = {}, {}
    for r in events:
        d = r.ts.date()
        by_day.setdefault(str(d), set()).add(r.user_id)
        by_month.setdefault(f"{d.year:04d}-{d.month:02d}", set()).add(r.user_id)
    got = {r.day: (r.dau, r.mau, r.stickiness) for r in agg_dau_mau(spark, sf_dir).collect()}
    assert set(got) == set(by_day)
    for day, users in by_day.items():
        mau = len(by_month[day[:7]])
        dau = len(users)
        assert got[day][0] == dau and got[day][1] == mau
        assert abs(got[day][2] - dau / mau) < 1e-9

    import math

    grp = {}
    for r in events:
        grp.setdefault(r.event_type, []).append(
            (int(round(r.value * 100)), r.event_id)
        )
    got = {r.event_type: r for r in agg_iqr_outliers(spark, sf_dir).collect()}
    assert set(got) == set(grp)
    for t, rows in grp.items():
        rows.sort()
        n = len(rows)
        q1 = rows[math.ceil(0.25 * n) - 1][0]
        q3 = rows[math.ceil(0.75 * n) - 1][0]
        iqr = q3 - q1
        n_out = sum(
            1 for c, _ in rows if 4 * c < 4 * q1 - 6 * iqr or 4 * c > 4 * q3 + 6 * iqr
        )
        o = got[t]
        assert o.n == n and o.q1 == q1 / 100.0 and o.q3 == q3 / 100.0
        assert o.n_outliers == n_out


def test_scan_roundtrips_are_lossless(spark, sf_dir):
    """scan_parquet / scan_csv / scan_json / scan_text_parse / scan_xml:
    every format round-trip must reproduce the source rows exactly
    (CSV doubles via shortest-repr, XML re-typed, text re-parsed)."""
    from insight_patents_spark.operators.relational import (
        scan_csv,
        scan_json,
        scan_parquet,
        scan_text_parse,
        scan_xml,
    )
    from insight_patents_spark.sources.tables import load

    nation = {tuple(r) for r in load(spark, sf_dir, "nation").collect()}
    assert {tuple(r) for r in scan_parquet(spark, sf_dir).collect()} == nation

    cust = {
        (r.c_custkey, r.c_name, r.c_nationkey, r.c_acctbal, r.c_mktsegment)
        for r in load(spark, sf_dir, "customer").collect()
    }
    got = {
        (r.c_custkey, r.c_name, r.c_nationkey, r.acctbal, r.c_mktsegment)
        for r in scan_csv(spark, sf_dir).collect()
    }
    assert got == cust

    docs = load(spark, sf_dir, "documents").collect()
    want = {(r.doc_id, r.lang, r.source, r.n_chars) for r in docs}
    got = {
        (r.doc_id, r.lang, r.source, r.n_chars)
        for r in scan_json(spark, sf_dir).collect()
    }
    assert got == want

    want = {(r.doc_id, r.lang) for r in docs}
    assert {
        (r.doc_id, r.lang) for r in scan_text_parse(spark, sf_dir).collect()
    } == want

    want = {(r.doc_id, r.lang, r.source) for r in docs}
    assert {
        (r.doc_id, r.lang, r.source) for r in scan_xml(spark, sf_dir).collect()
    } == want


def test_sink_roundtrips_are_lossless(spark, sf_dir):
    """sink_parquet (partitioned) / sink_csv / sink_orc / sink_jdbc
    (embedded Derby): write+read-back must reproduce the source
    selection exactly, including the partition-pruned subset."""
    from insight_patents_spark.operators.relational import (
        sink_csv,
        sink_jdbc,
        sink_orc,
        sink_parquet,
    )
    from insight_patents_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders").collect()
    want = {
        (r.o_orderkey, r.o_orderstatus, r.o_totalprice)
        for r in orders
        if r.o_orderstatus in ("O", "F")
    }
    got = {
        (r.o_orderkey, r.o_orderstatus, r.total)
        for r in sink_parquet(spark, sf_dir).collect()
    }
    assert got == want

    want = {
        (r.r_regionkey, r.r_name) for r in load(spark, sf_dir, "region").collect()
    }
    assert {tuple(r) for r in sink_csv(spark, sf_dir).collect()} == want

    want = {tuple(r) for r in load(spark, sf_dir, "nation").collect()}
    assert {tuple(r) for r in sink_orc(spark, sf_dir).collect()} == want

    want = {
        (r.o_orderkey, r.o_custkey, r.o_orderstatus, float(r.o_totalprice))
        for r in orders
        if r.o_orderpriority == "1-URGENT"
    }
    got = {
        (r.o_orderkey, r.o_custkey, r.o_orderstatus, r.total)
        for r in sink_jdbc(spark, sf_dir).collect()
    }
    assert got == want


def test_text_count_family_matches_python(spark, sf_dir):
    """text_tokenize_wordcount / text_ngrams / text_token_count /
    text_lang_route vs Python Counters over the raw corpus."""
    import re as _re
    from collections import Counter

    from insight_patents_spark.operators.text import (
        text_lang_route,
        text_ngrams,
        text_token_count,
        text_tokenize_wordcount,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()
    occ, docs_with = Counter(), {}
    big = Counter()
    for r in docs:
        toks = r.text.split(" ")
        for t in toks:
            occ[t] += 1
            docs_with.setdefault(t, set()).add(r.doc_id)
        for i in range(len(toks) - 1):
            big[toks[i] + " " + toks[i + 1]] += 1
    got = {
        r.token: (r.n_occurrences, r.n_docs)
        for r in text_tokenize_wordcount(spark, sf_dir).collect()
    }
    assert got == {t: (occ[t], len(docs_with[t])) for t in occ}
    got = {r.bigram: r.n for r in text_ngrams(spark, sf_dir).collect()}
    assert got == dict(big)

    bpe = _re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")
    got = {r.doc_id: tuple(r[1:]) for r in text_token_count(spark, sf_dir).collect()}
    for r in docs:
        assert got[r.doc_id] == (
            len(r.text.split(" ")),
            len(bpe.findall(r.text)),
            len(r.text),
        )

    grp = {}
    for r in docs:
        grp.setdefault(r.lang, []).append(r.text)
    got = {
        r.lang: (r.n_docs, r.total_tokens, r.total_chars)
        for r in text_lang_route(spark, sf_dir).collect()
    }
    assert got == {
        lang: (
            len(ts),
            sum(len(t.split(" ")) for t in ts),
            sum(len(t) for t in ts),
        )
        for lang, ts in grp.items()
    }


def test_tfidf_quality_lexicon_match_python(spark, sf_dir):
    """text_tfidf (smoothed idf), text_quality (filter features),
    text_lexicon_score (map-literal scoring) vs Python formulas."""
    import math
    from collections import Counter

    from insight_patents_spark.operators.text import (
        LEXICON,
        STOPWORDS,
        text_lexicon_score,
        text_quality,
        text_tfidf,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()
    n_docs = len(docs)
    tf = Counter()
    df = {}
    for r in docs:
        for t in r.text.split(" "):
            tf[(r.doc_id, t)] += 1
        for t in set(r.text.split(" ")):
            df.setdefault(t, 0)
            df[t] += 1
    got = {
        (r.doc_id, r.token): (r.tf, r.df, r.idf, r.tfidf)
        for r in text_tfidf(spark, sf_dir).collect()
    }
    want_keys = {(d, t) for (d, t) in tf if d % 10 == 0}
    assert set(got) == want_keys
    for (d, t), (tfv, dfv, idf, tfidf) in got.items():
        assert tfv == tf[(d, t)] and dfv == df[t]
        want_idf = round(math.log((n_docs + 1.0) / (df[t] + 1.0)) + 1.0, 9)
        assert abs(idf - want_idf) < 1e-9
        assert abs(tfidf - round(tfv * idf, 9)) < 1e-9

    stop = set(STOPWORDS)
    got = {r.doc_id: r for r in text_quality(spark, sf_dir).collect()}
    for r in docs:
        toks = r.text.split(" ")
        n, nd = len(toks), len(set(toks))
        ns = sum(1 for t in toks if t in stop)
        o = got[r.doc_id]
        assert (o.n_tokens, o.n_distinct) == (n, nd)
        assert o.type_token_ratio == nd / n
        assert o.stopword_ratio == ns / n
        want = 0.5 * (nd / n) + 0.3 * min(n / 50.0, 1.0) + 0.2 * (ns / n)
        assert abs(o.quality_score - want) < 1e-9

    lex = dict(LEXICON)
    got = {r.doc_id: (r.sentiment_score, r.n_lexicon_hits) for r in text_lexicon_score(spark, sf_dir).collect()}
    for r in docs:
        toks = r.text.split(" ")
        score = sum(lex.get(t, 0) for t in toks)
        hits = sum(1 for t in toks if t in lex)
        assert got[r.doc_id] == (score, hits)


def test_fingerprint_and_levenshtein_match_python(spark, sf_dir):
    """text_fingerprint (md5 winnowing signature) and text_levenshtein
    (brand-blocked edit-distance join) vs hashlib / DP replays."""
    import hashlib

    from insight_patents_spark.operators.text import (
        text_fingerprint,
        text_levenshtein,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()
    got = {r.doc_id: r.fingerprint for r in text_fingerprint(spark, sf_dir).collect()}
    for r in docs:
        toks = r.text.split(" ")
        shingles = [
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        ]
        hs = sorted(hashlib.md5(s.encode()).hexdigest() for s in shingles)
        assert got[r.doc_id] == "|".join(hs[:4])

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    parts = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_name"
    ).collect()
    by_brand = {}
    for r in parts:
        by_brand.setdefault(r.p_brand, []).append((r.p_partkey, r.p_name))
    want = {}
    for brand, ps in by_brand.items():
        for ka, na in ps:
            for kb, nb in ps:
                if ka < kb and abs(len(na) - len(nb)) <= 2:
                    d = lev(na, nb)
                    if d <= 4:
                        want[(ka, kb)] = (brand, d)
    got = {
        (r.key_a, r.key_b): (r.p_brand, r.edit_dist)
        for r in text_levenshtein(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_langid_matches_python_profiles(spark, sf_dir):
    """text_langid vs a full Python replay: top-5 per-language profiles
    (tf desc, token asc), per-doc best-overlap prediction (overlap desc,
    lang asc), 'und' when nothing overlaps."""
    from collections import Counter

    from insight_patents_spark.operators.text import text_langid
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()
    tf = Counter()
    for r in docs:
        for t in r.text.split(" "):
            tf[(r.lang, t)] += 1
    profiles = {}
    by_lang = {}
    for (lang, t), n in tf.items():
        by_lang.setdefault(lang, []).append((-n, t))
    for lang, items in by_lang.items():
        profiles[lang] = {t for _, t in sorted(items)[:5]}
    got = {r.doc_id: r for r in text_langid(spark, sf_dir).collect()}
    for r in docs:
        toks = set(r.text.split(" "))
        scores = {
            lang: len(toks & prof)
            for lang, prof in profiles.items()
            if toks & prof
        }
        if scores:
            best = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            want = (r.lang, best[0], best[1])
        else:
            want = (r.lang, "und", 0)
        o = got[r.doc_id]
        assert (o.actual_lang, o.predicted_lang, o.profile_overlap) == want


def test_setops_match_python_bag_semantics(spark, sf_dir):
    """set_union_all / set_union_distinct / set_intersect / set_except /
    set_except_all / sort_multikey / dedup_subset_keys vs Python bag and
    set replays — multiplicity arithmetic exact."""
    from collections import Counter

    from insight_patents_spark.operators.setops import (
        dedup_subset_keys,
        set_except,
        set_except_all,
        set_intersect,
        set_union_all,
        set_union_distinct,
        sort_multikey,
    )
    from insight_patents_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders").collect()

    want = Counter()
    for r in orders:
        if r.o_orderpriority == "1-URGENT":
            want[(r.o_orderkey, r.o_totalprice, "urgent")] += 1
        if r.o_totalprice > 200000:
            want[(r.o_orderkey, r.o_totalprice, "big")] += 1
    got = Counter(map(tuple, set_union_all(spark, sf_dir).collect()))
    assert got == want

    want = {
        r.o_custkey
        for r in orders
        if r.o_orderpriority == "1-URGENT" or r.o_totalprice > 200000
    }
    rows = [r.o_custkey for r in set_union_distinct(spark, sf_dir).collect()]
    assert len(rows) == len(set(rows)) and set(rows) == want

    o_cust = {r.o_custkey for r in orders if r.o_orderstatus == "O"}
    f_cust = {r.o_custkey for r in orders if r.o_orderstatus == "F"}
    rows = [r.o_custkey for r in set_intersect(spark, sf_dir).collect()]
    assert len(rows) == len(set(rows)) and set(rows) == o_cust & f_cust

    a = Counter(r.o_custkey for r in orders if r.o_orderstatus == "O")
    b = Counter(r.o_custkey for r in orders if r.o_orderstatus == "P")
    got = Counter(r.o_custkey for r in set_except(spark, sf_dir).collect())
    assert got == a - b

    a = Counter(r.o_orderpriority for r in orders if r.o_custkey % 3 == 0)
    b = Counter(r.o_orderpriority for r in orders if r.o_custkey % 7 == 0)
    got = Counter(
        r.o_orderpriority for r in set_except_all(spark, sf_dir).collect()
    )
    assert got == a - b

    sel = [r for r in orders if r.o_orderkey % 11 == 0]
    sel.sort(key=lambda r: (r.o_orderpriority, -r.o_totalprice, r.o_orderkey))
    got = sorted(sort_multikey(spark, sf_dir).collect(), key=lambda r: r.pos)
    assert [
        (r.o_orderkey, r.o_orderpriority, r.o_totalprice) for r in got
    ] == [(r.o_orderkey, r.o_orderpriority, r.o_totalprice) for r in sel]
    assert [r.pos for r in got] == list(range(1, len(sel) + 1))

    events = load(spark, sf_dir, "events").collect()
    latest = {}
    for r in events:
        k = (r.user_id, r.event_type)
        cur = latest.get(k)
        if cur is None or (r.ts, r.event_id) > (cur.ts, cur.event_id):
            latest[k] = r
    got = {
        (r.user_id, r.event_type): (r.latest_event_id, r.value)
        for r in dedup_subset_keys(spark, sf_dir).collect()
    }
    assert got == {
        k: (r.event_id, r.value) for k, r in latest.items()
    }


def test_projection_filter_battery_matches_python(spark, sf_dir):
    """project_compute / filter_pred / filter_regex / case_when /
    cast_null_fns vs per-row Python replays (IEEE arithmetic identical
    in both runtimes)."""
    import re as _re

    from insight_patents_spark.operators.relational import (
        case_when,
        cast_null_fns,
        filter_pred,
        filter_regex,
        project_compute,
    )
    from insight_patents_spark.sources.tables import load

    from collections import Counter as _Counter

    li = load(spark, sf_dir, "lineitem").collect()
    got = _Counter(map(tuple, project_compute(spark, sf_dir).collect()))
    want = _Counter(
        (
            r.l_orderkey,
            r.l_linenumber,
            r.l_extendedprice * (1 - r.l_discount),
            r.l_quantity * 2.5 + 1,
        )
        for r in li
    )
    assert got == want

    orders = load(spark, sf_dir, "orders").collect()
    want = {
        r.o_orderkey
        for r in orders
        if 1000 <= r.o_totalprice <= 150000
        and r.o_orderstatus in ("O", "F")
        and "URGENT" in r.o_orderpriority
        and r.o_custkey is not None
        and not (r.o_orderkey % 10 == 0 and r.o_totalprice < 5000)
    }
    assert {r.o_orderkey for r in filter_pred(spark, sf_dir).collect()} == want

    cust = load(spark, sf_dir, "customer").collect()
    want = {r.c_custkey for r in cust if _re.search(r"[0-9]{3}$", r.c_name)}
    assert {r.c_custkey for r in filter_regex(spark, sf_dir).collect()} == want

    got = {r.o_orderkey: (r.price_band, r.status_name) for r in case_when(spark, sf_dir).collect()}
    for r in orders:
        band = (
            "high"
            if r.o_totalprice >= 100000
            else "mid" if r.o_totalprice >= 30000 else "low"
        )
        status = {"O": "open", "F": "finished"}.get(r.o_orderstatus, "other")
        assert got[r.o_orderkey] == (band, status)

    import decimal

    got = {r.c_custkey: r for r in cast_null_fns(spark, sf_dir).collect()}
    for r in cust:
        o = got[r.c_custkey]
        want_dec = float(
            decimal.Decimal(repr(r.c_acctbal)).quantize(
                decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
            )
        )
        assert o.bal_dec == want_dec
        assert o.nation_str == str(r.c_nationkey)
        want_seg = "OTHER" if r.c_mktsegment == "MACHINERY" else r.c_mktsegment
        assert o.seg_or_other == want_seg
        assert o.is_negative == int(r.c_acctbal < 0)


def _rhu(x, nd):
    """Python twin of Spark F.round(double, nd): shortest-repr decimal,
    HALF_UP."""
    import decimal

    q = decimal.Decimal(1).scaleb(-nd)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def test_fn_scalar_battery_matches_python(spark, sf_dir):
    """fn_string / fn_regex / fn_math / fn_bitwise vs per-row Python
    replays of the same expressions."""
    import math
    import re as _re

    from insight_patents_spark.functions.scalar import (
        fn_bitwise,
        fn_math,
        fn_regex,
        fn_string,
    )
    from insight_patents_spark.sources.tables import load

    cust = load(spark, sf_dir, "customer").collect()
    got = {r.c_custkey: r for r in fn_string(spark, sf_dir).collect()}
    for r in cust:
        o = got[r.c_custkey]
        assert o.name_upper == r.c_name.upper()
        assert o.seg_lower == r.c_mktsegment.lower()
        assert o.name_trim == r.c_name.strip(" ")
        assert o.name_prefix == r.c_name[:8]
        assert o.name_seg == f"{r.c_name}|{r.c_mktsegment}"
        assert o.name_len == len(r.c_name)
        assert o.key_padded == str(r.c_custkey).rjust(10, "0")[:10]
        assert o.name_dash == r.c_name.replace("#", "-")
        assert o.first_zero_pos == r.c_name.find("0") + 1
        assert o.name_head == r.c_name.split("#")[0]

    got = {r.c_custkey: r for r in fn_regex(spark, sf_dir).collect()}
    for r in cust:
        o = got[r.c_custkey]
        m = _re.search(r"([0-9]+)", r.c_name)
        assert o.digits == (m.group(1) if m else "")
        assert o.masked == _re.sub(r"[0-9]", "X", r.c_name)
        assert o.has_2digits == bool(_re.search(r"[0-9]{2}", r.c_name))

    li = [
        r
        for r in load(spark, sf_dir, "lineitem").collect()
        if r.l_orderkey % 13 == 0
    ]
    got = {}
    for r in fn_math(spark, sf_dir).collect():
        got.setdefault((r.l_orderkey, r.l_linenumber), []).append(r)
    for r in li:
        cands = got[(r.l_orderkey, r.l_linenumber)]
        o = next(
            c for c in cands if c.qty_sq == r.l_quantity**2
            and c.price_floor == math.floor(r.l_extendedprice)
        )
        assert o.price_round == _rhu(r.l_extendedprice, 1)
        assert o.price_ceil == math.ceil(r.l_extendedprice)
        assert o.disc_dev == abs(r.l_discount - 0.05)
        assert o.qty_sqrt == math.sqrt(r.l_quantity)
        assert abs(o.price_ln - math.log(r.l_extendedprice)) < 1e-9
        assert abs(o.disc_exp - math.exp(r.l_discount)) < 1e-9
        assert o.key_mod == r.l_orderkey % 7
        assert o.qty_side == float(
            0 if r.l_quantity == 25 else (1 if r.l_quantity > 25 else -1)
        )

    li100 = [
        r
        for r in load(spark, sf_dir, "lineitem").collect()
        if r.l_orderkey % 100 == 0
    ]
    from collections import Counter as _C

    want = _C(
        (
            r.l_orderkey,
            r.l_linenumber,
            r.l_orderkey & 255,
            r.l_orderkey | 4096,
            r.l_orderkey ^ r.l_partkey,
            r.l_linenumber << 4,
            r.l_orderkey >> 2,
            ~r.l_linenumber,
        )
        for r in li100
    )
    got = _C(map(tuple, fn_bitwise(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_fn_date_interval_match_python(spark, sf_dir):
    """fn_date / fn_interval vs Python datetime arithmetic (NTZ
    timestamps; add_months clamps the day; whole-month diffs on
    truncated endpoints)."""
    import calendar
    import datetime

    from insight_patents_spark.functions.scalar import fn_date, fn_interval
    from insight_patents_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders").collect()
    got = {r.o_orderkey: r for r in fn_date(spark, sf_dir).collect()}
    epoch = datetime.datetime(1970, 1, 1)
    for r in orders:
        ts = r.o_orderdate
        o = got[r.o_orderkey]
        assert (o.yr, o.mo, o.dy, o.hr) == (ts.year, ts.month, ts.day, ts.hour)
        assert o.month_start == ts.replace(
            day=1, hour=0, minute=0, second=0, microsecond=0
        )
        assert o.days_since_95 == (ts.date() - datetime.date(1995, 1, 1)).days
        assert o.due_date == ts + datetime.timedelta(days=30)
        last = calendar.monthrange(ts.year, ts.month)[1]
        assert o.month_end == str(ts.date().replace(day=last))
        assert o.epoch_sec == int((ts - epoch).total_seconds() // 1)

    def add_months(ts, n):
        y, m = divmod(ts.month - 1 + n, 12)
        y += ts.year
        m += 1
        d = min(ts.day, calendar.monthrange(y, m)[1])
        return ts.replace(year=y, month=m, day=d)

    pivot = datetime.datetime(1995, 6, 15)
    got = {r.o_orderkey: r for r in fn_interval(spark, sf_dir).collect()}
    for r in orders:
        if r.o_orderkey % 1000 != 0:
            continue
        ts = r.o_orderdate
        o = got[r.o_orderkey]
        assert o.due_ts == ts + datetime.timedelta(days=90)
        assert o.quarter_later == add_months(ts, 3)
        assert o.days_from_pivot == (ts.date() - pivot.date()).days
        assert o.months_from_pivot == (ts.year - 1995) * 12 + ts.month - 6
        assert o.day_and_half_before == ts - datetime.timedelta(hours=36)


def test_fn_semistructured_battery_matches_python(spark, sf_dir):
    """fn_array / fn_explode / fn_map / fn_json / fn_variant /
    fn_map_hof / fn_hash / fn_url / fn_try_safe / fn_collation vs
    Python replays (json module, hashlib, urllib semantics)."""
    import hashlib
    import json as _json
    import math

    from insight_patents_spark.functions.scalar import (
        fn_array,
        fn_collation,
        fn_explode,
        fn_hash,
        fn_json,
        fn_map,
        fn_map_hof,
        fn_try_safe,
        fn_url,
        fn_variant,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()
    got = {r.doc_id: r for r in fn_array(spark, sf_dir).collect()}
    for r in docs:
        toks = r.text.split(" ")
        o = got[r.doc_id]
        assert o.n_tokens == len(toks)
        assert o.has_table == ("table" in toks)
        assert o.first3 == "|".join(toks[:3])
        assert o.vocab == "|".join(sorted(set(toks)))
        assert o.head_upper == "|".join(t.upper() for t in toks[:5])
        assert o.long_tokens == "|".join(t for t in toks if len(t) > 4)
        assert o.total_chars == sum(len(t) for t in toks)

    want = {
        (r.doc_id, i, t)
        for r in docs
        if r.doc_id % 25 == 0
        for i, t in enumerate(r.text.split(" "))
    }
    assert {tuple(r) for r in fn_explode(spark, sf_dir).collect()} == want

    got = {r.doc_id: r for r in fn_map(spark, sf_dir).collect()}
    for r in docs:
        o = got[r.doc_id]
        assert o.ks == "lang|source"
        assert o.vs == f"{r.lang}|{r.source}"
        assert o.lang_val == r.lang

    got = {r.doc_id: r for r in fn_hash(spark, sf_dir).collect()}
    for r in docs:
        o = got[r.doc_id]
        assert o.text_md5 == hashlib.md5(r.text.encode()).hexdigest()
        assert o.text_sha256 == hashlib.sha256(r.text.encode()).hexdigest()
        assert (
            o.keyed_md5
            == hashlib.md5(f"{r.lang}:{r.text}".encode()).hexdigest()
        )

    got = {r.doc_id: r for r in fn_url(spark, sf_dir).collect()}
    for r in docs:
        if r.doc_id % 25 != 0:
            continue
        o = got[r.doc_id]
        assert o.url == (
            f"https://corpus.example.org/{r.lang}/doc/{r.doc_id}"
            f"?lang={r.lang}&src={r.source}"
        )
        assert o.proto == "https"
        assert o.host == "corpus.example.org"
        assert o.path == f"/{r.lang}/doc/{r.doc_id}"
        assert o.query == f"lang={r.lang}&src={r.source}"
        assert o.lang_param == r.lang

    def try_int(s):
        try:
            return int(s.strip())
        except (ValueError, AttributeError):
            return None

    got = {r.doc_id: r for r in fn_try_safe(spark, sf_dir).collect()}
    for r in docs:
        o = got[r.doc_id]
        assert o.first3_as_int == try_int(r.text[:3])
        want = (
            None
            if r.n_chars == 300
            else math.floor(10000 / (r.n_chars - 300))
        )
        assert o.inv_offset == want
        assert o.lang_as_int == try_int(r.lang)
        assert o.mod7 == r.n_chars % 7

    grp = {}
    for r in docs:
        mixed = r.source.upper() if r.doc_id % 2 == 0 else r.source
        grp.setdefault(mixed.lower(), []).append(mixed)
    got = {
        r.source_ci.lower(): (r.n_docs, r.n_case_variants)
        for r in fn_collation(spark, sf_dir).collect()
    }
    assert got == {k: (len(v), len(set(v))) for k, v in grp.items()}

    events = load(spark, sf_dir, "events").select("event_id", "event_type", "props").collect()
    ks = {r.event_id: _json.loads(r.props).get("k") for r in events}
    got = {r.event_id: (r.k_typed, r.k_raw) for r in fn_json(spark, sf_dir).collect()}
    for r in events:
        k = ks[r.event_id]
        assert got[r.event_id] == (k, None if k is None else str(k))

    grp = {}
    for r in events:
        grp.setdefault(r.event_type, []).append(ks[r.event_id])
    got = {
        r.event_type: (r.n_events, r.total_k, r.max_k)
        for r in fn_variant(spark, sf_dir).collect()
    }
    assert got == {
        t: (
            len(vs),
            sum(v for v in vs if v is not None),
            max(v for v in vs if v is not None),
        )
        for t, vs in grp.items()
    }

    got = {r.event_id: r.scaled_entries for r in fn_map_hof(spark, sf_dir).collect()}
    for r in events:
        if r.event_id % 50 != 0:
            continue
        k = ks[r.event_id]
        assert got[r.event_id] == "|".join(
            f"b{i}={k * i}" for i in (1, 2, 3)
        )


def test_udf_tiers_equal_native_twins(spark, sf_dir):
    """udf_python_scalar / udf_pandas_scalar / udtf_map_in_arrow: every
    Python-boundary tier must equal the pure-JVM expression twin — the
    UDF exhibits demonstrate the API, never different arithmetic."""
    from insight_patents_spark.operators.udf import (
        udf_pandas_scalar,
        udf_python_scalar,
        udtf_map_in_arrow,
    )
    from insight_patents_spark.sources.tables import load

    got = {r.c_custkey: r.checksum for r in udf_python_scalar(spark, sf_dir).collect()}
    for r in load(spark, sf_dir, "customer").collect():
        k = r.c_custkey
        assert got[k] == (k % 97) * 31 + len(str(k))

    from collections import Counter

    li = load(spark, sf_dir, "lineitem").collect()
    got = Counter(map(tuple, udf_pandas_scalar(spark, sf_dir).collect()))
    want = Counter(
        (
            r.l_orderkey,
            r.l_linenumber,
            r.l_extendedprice * (1 - r.l_discount),
        )
        for r in li
    )
    assert got == want

    got = Counter(map(tuple, udtf_map_in_arrow(spark, sf_dir).collect()))
    want = Counter(
        (
            r.l_orderkey,
            r.l_linenumber,
            int(round(r.l_quantity * 100)),
            int(round(r.l_discount * 10000)),
        )
        for r in li
        if r.l_orderkey % 40 == 0
    )
    assert got == want and len(got) > 0


def test_udtf_grouped_and_expanding_match_python(spark, sf_dir):
    """udaf_pandas_agg (sorted-fold weighted mean), udtf_apply_in_pandas
    (per-user z-scores), udtf_map_in_pandas (deterministic row
    expansion), udtf_python (lateral tokenizer) vs Python replays."""
    from collections import Counter

    from insight_patents_spark.operators.udf import (
        udaf_pandas_agg,
        udtf_apply_in_pandas,
        udtf_map_in_pandas,
        udtf_python,
    )
    from insight_patents_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").collect()
    grp = {}
    for r in li:
        grp.setdefault(r.l_returnflag, []).append(
            (r.l_extendedprice, r.l_quantity)
        )
    got = {
        r.l_returnflag: r.weighted_avg_price
        for r in udaf_pandas_agg(spark, sf_dir).collect()
    }
    for flag, rows in grp.items():
        num = _sorted_fold([p * q for p, q in rows])
        den = _sorted_fold([q for _, q in rows])
        assert got[flag] == num / den

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    ).collect()
    by_user = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append(r)
    got = {r.event_id: r.z_score for r in udtf_apply_in_pandas(spark, sf_dir).collect()}
    for rows in by_user.values():
        vs = [r.value for r in rows]
        n = len(vs)
        mu = _sorted_fold(vs) / n
        var = _sorted_fold([(v - mu) ** 2 for v in vs]) / (n - 1)
        sd = var**0.5
        for r in rows:
            assert abs(got[r.event_id] - (r.value - mu) / sd) < 1e-12

    orders = load(spark, sf_dir, "orders").collect()
    want = Counter(
        (r.o_orderkey, c, r.o_totalprice)
        for r in orders
        if r.o_orderkey % 50 == 0
        for c in range(1, r.o_orderkey % 3 + 2)
    )
    got = Counter(map(tuple, udtf_map_in_pandas(spark, sf_dir).collect()))
    assert got == want and len(got) > 0

    docs = load(spark, sf_dir, "documents").collect()
    want = Counter(
        (r.doc_id, i, t, len(t))
        for r in docs
        if r.doc_id % 20 == 0
        for i, t in enumerate(r.text.split(" "))
    )
    got = Counter(map(tuple, udtf_python(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_udf_python_arrow_equals_legacy_tier(spark, sf_dir):
    """udf_python_arrow (Arrow-batched transfer) must return exactly the
    legacy pickled udf_python_scalar's checksums — same function, faster
    boundary."""
    from insight_patents_spark.operators.udf import (
        udf_python_arrow,
        udf_python_scalar,
    )

    got = {tuple(r) for r in udf_python_arrow(spark, sf_dir).collect()}
    want = {tuple(r) for r in udf_python_scalar(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_gap_fill_retention_rolling_median_cusum_match_python(spark, sf_dir):
    """win_gap_fill (dense hourly grid), win_retention_cohort (first-touch
    matrix), win_rolling_median (exact 15-frame median),
    win_cusum_changepoint (integer-exact argmax|S_t|) vs Python."""
    import datetime

    from insight_patents_spark.operators.windows import (
        win_cusum_changepoint,
        win_gap_fill,
        win_retention_cohort,
        win_rolling_median,
    )
    from insight_patents_spark.sources.tables import load

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).collect()

    hourly = {}
    for r in events:
        if r.user_id % 100 == 0:
            h = r.ts.replace(minute=0, second=0, microsecond=0)
            hourly[(r.user_id, h)] = hourly.get((r.user_id, h), 0) + 1
    spans = {}
    for (u, h) in hourly:
        lo, hi = spans.get(u, (h, h))
        spans[u] = (min(lo, h), max(hi, h))
    want = {}
    for u, (lo, hi) in spans.items():
        h = lo
        while h <= hi:
            n = hourly.get((u, h), 0)
            want[(u, h)] = (n, n == 0)
            h += datetime.timedelta(hours=1)
    got = {
        (r.user_id, r.bucket_ts): (r.n_events, r.was_gap)
        for r in win_gap_fill(spark, sf_dir).collect()
    }
    assert got == want and any(g for _, g in want.values())

    first = {}
    for r in events:
        d = r.ts.date()
        first[r.user_id] = min(first.get(r.user_id, d), d)
    matrix = {}
    seen = set()
    for r in events:
        off = (r.ts.date() - first[r.user_id]).days
        key = (str(first[r.user_id]), off)
        if (r.user_id, key) not in seen:
            seen.add((r.user_id, key))
            matrix[key] = matrix.get(key, 0) + 1
    got = {
        (r.cohort_day, r.day_offset): r.n_active_users
        for r in win_retention_cohort(spark, sf_dir).collect()
    }
    assert got == matrix

    by_type = {}
    for r in events:
        by_type.setdefault(r.event_type, []).append(r)
    for rows in by_type.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
    got = {
        r.event_id: (r.value, r.rolling_median)
        for r in win_rolling_median(spark, sf_dir).collect()
    }
    n_checked = 0
    for rows in by_type.values():
        cents = [int(round(r.value * 100)) for r in rows]
        for i, r in enumerate(rows):
            if i < 14:
                assert r.event_id not in got
                continue
            frame = sorted(cents[i - 14 : i + 1])
            assert got[r.event_id] == (cents[i] / 100.0, frame[7] / 100.0)
            n_checked += 1
    assert n_checked > 0

    got = {
        r.event_type: (r.changepoint_event_id, r.t_index, r.cusum_peak)
        for r in win_cusum_changepoint(spark, sf_dir).collect()
    }
    for etype, rows in by_type.items():
        cents = [int(round(r.value * 100)) for r in rows]
        tot, n = sum(cents), len(cents)
        pre = 0
        best = None
        for t, (r, c) in enumerate(zip(rows, cents), start=1):
            pre += c
            s_scaled = abs(pre * n - t * tot)
            if best is None or s_scaled > best[0] or (
                s_scaled == best[0] and r.event_id < best[1]
            ):
                best = (s_scaled, r.event_id, t)
        assert got[etype][0] == best[1] and got[etype][1] == best[2]
        assert abs(got[etype][2] - _rhu(best[0] / n / 100.0, 9)) < 1e-12


def test_sql_subquery_paths_match_python(spark, sf_dir):
    """sql_scalar_subquery (decorrelated scalar filter) and
    sql_lateral_topk (per-customer ranked LATERAL) vs Python."""
    from insight_patents_spark.operators.relational import (
        sql_lateral_topk,
        sql_scalar_subquery,
    )
    from insight_patents_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders").collect()
    # threshold compared, not emitted: python float avg differs in the
    # last ulp from Spark's — use a tolerance band around the cutoff and
    # require exact agreement outside it
    avg = sum(r.o_totalprice for r in orders) / len(orders)
    cut = 1.8 * avg
    got = {r.o_orderkey for r in sql_scalar_subquery(spark, sf_dir).collect()}
    must = {r.o_orderkey for r in orders if r.o_totalprice > cut * (1 + 1e-12)}
    may = {r.o_orderkey for r in orders if r.o_totalprice > cut * (1 - 1e-12)}
    assert must <= got <= may

    by_cust = {}
    for r in orders:
        by_cust.setdefault(r.o_custkey, []).append(r)
    want = set()
    for cust, rows in by_cust.items():
        rows.sort(key=lambda r: (-r.o_totalprice, r.o_orderkey))
        for r in rows[:2]:
            want.add((cust, r.o_orderkey, r.o_totalprice))
    got = {tuple(r) for r in sql_lateral_topk(spark, sf_dir).collect()}
    assert got == want


def test_entropy_bigram_hashing_match_python(spark, sf_dir):
    """text_entropy (sorted-fold char entropy), text_bigram_lm (add-one
    smoothed top-3 continuations), text_hashing_trick (md5 feature
    buckets) vs Python replays."""
    import hashlib
    import math
    from collections import Counter

    from insight_patents_spark.operators.text import (
        text_bigram_lm,
        text_entropy,
        text_hashing_trick,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()

    got = {r.doc_id: r for r in text_entropy(spark, sf_dir).collect()}
    for r in docs:
        cnt = Counter(r.text)
        n = len(r.text)
        s = _sorted_fold_pairs(
            [(ch, c * math.log2(c)) for ch, c in cnt.items()]
        )
        o = got[r.doc_id]
        assert o.n_chars_counted == n and o.n_distinct_chars == len(cnt)
        assert abs(o.char_entropy - (math.log2(n) - s / n)) < 1e-9

    big = Counter()
    for r in docs:
        ws = r.text.split(" ")
        for i in range(len(ws) - 1):
            big[(ws[i], ws[i + 1])] += 1
    uni = Counter()
    for (w1, _), c in big.items():
        uni[w1] += c
    vsize = len({w2 for _, w2 in big})
    best = {}
    for (w1, w2), c2 in big.items():
        p = round((c2 + 1.0) / (uni[w1] + vsize), 9)
        best.setdefault(w1, []).append((-p, w2, c2))
    want = set()
    for w1, items in best.items():
        for negp, w2, c2 in sorted(items)[:3]:
            want.add((w1, w2, c2, -negp))
    got = {
        (r.w1, r.w2, r.c2, r.p) for r in text_bigram_lm(spark, sf_dir).collect()
    }
    # p values re-derived with python round: compare keys and values with
    # a tolerance by matching on (w1, w2)
    assert {(a, b) for a, b, _, _ in got} == {(a, b) for a, b, _, _ in want}
    gd = {(a, b): (c, p) for a, b, c, p in got}
    for a, b, c, p in want:
        gc, gp = gd[(a, b)]
        assert gc == c and abs(gp - p) < 1e-9

    got = {r.doc_id: r.features for r in text_hashing_trick(spark, sf_dir).collect()}
    for r in docs:
        counts = [0] * 16
        for t in r.text.split(" "):
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 16
            counts[b] += 1
        assert got[r.doc_id] == "|".join(str(c) for c in counts)


def _sorted_fold_pairs(pairs):
    acc = 0.0
    for _, x in sorted(pairs):
        acc = acc + x
    return acc


def test_jaccard_containment_incremental_match_python(spark, sf_dir):
    """text_jaccard_tokens (exact J>=0.9 pairs vs brute force),
    text_minhash_containment (sound: every pair's containment exact and
    >=0.9; complete for identical token sets), dedup_incremental
    (batch-vs-history md5 decisions) vs Python."""
    from insight_patents_spark.operators.text import (
        dedup_incremental,
        text_jaccard_tokens,
        text_minhash_containment,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()
    sets = {r.doc_id: set(r.text.split(" ")) for r in docs}
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        sa = sets[a]
        for b in ids[i + 1 :]:
            sb = sets[b]
            inter = len(sa & sb)
            uni = len(sa) + len(sb) - inter
            if inter / uni >= 0.9:
                want[(a, b)] = (inter, uni, inter / uni)
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.uni, r.jaccard)
        for r in text_jaccard_tokens(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0

    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in text_minhash_containment(spark, sf_dir).collect()
    }
    assert len(got) > 0
    for (a, b), cont in got.items():
        sa, sb = sets[a], sets[b]
        assert cont == len(sa & sb) / min(len(sa), len(sb)) and cont >= 0.9
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if sets[a] == sets[b]:
                assert (a, b) in got  # identical sets always collide

    import hashlib

    hist = {
        hashlib.md5(r.text.encode()).hexdigest()
        for r in docs
        if r.doc_id % 5 != 0
    }
    got = {
        r.doc_id: (r.sig, r.seen_before)
        for r in dedup_incremental(spark, sf_dir).collect()
    }
    want = {
        r.doc_id: (
            hashlib.md5(r.text.encode()).hexdigest(),
            hashlib.md5(r.text.encode()).hexdigest() in hist,
        )
        for r in docs
        if r.doc_id % 5 == 0
    }
    assert got == want


def test_funnel_trend_newret_pctchange_calendar_match_python(spark, sf_dir):
    """funnel_stages (sequential conditional mins), agg_trend_ols
    (closed-form OLS from integer moments), agg_new_returning,
    time_pct_change (exact cent deltas), time_calendar_dim (generated
    span) vs Python replays."""
    import datetime

    from insight_patents_spark.operators.aggregates import (
        agg_new_returning,
        agg_trend_ols,
        funnel_stages,
        time_pct_change,
    )
    from insight_patents_spark.operators.relational import time_calendar_dim
    from insight_patents_spark.sources.tables import load

    events = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    ).collect()
    by_user = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append(r)

    got = {r.user_id: (r.stage, r.funnel_sec) for r in funnel_stages(spark, sf_dir).collect()}
    for u, rows in by_user.items():
        t1 = min((r.ts for r in rows if r.event_type == "view"), default=None)
        t2 = (
            min(
                (r.ts for r in rows if r.event_type == "click" and r.ts > t1),
                default=None,
            )
            if t1
            else None
        )
        t3 = (
            min(
                (
                    r.ts
                    for r in rows
                    if r.event_type == "purchase" and r.ts > t2
                ),
                default=None,
            )
            if t2
            else None
        )
        stage = 3 if t3 else 2 if t2 else 1 if t1 else 0
        sec = (
            int(t3.timestamp()) - int(t1.timestamp()) if t3 else None
        )
        assert got[u] == (stage, sec)

    by_type = {}
    for r in events:
        by_type.setdefault(r.event_type, []).append(r)
    got = {r.event_type: r for r in agg_trend_ols(spark, sf_dir).collect()}
    for etype, rows in by_type.items():
        xs0 = [int(r.ts.timestamp()) for r in rows]
        mn = min(xs0)
        pts = [
            ((x - mn) // 60, int(round(r.value * 100)))
            for x, r in zip(xs0, rows)
        ]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        intercept = sy / n - slope * (sx / n)
        o = got[etype]
        assert o.n == n
        assert abs(o.slope_per_min - slope / 100.0) < 1e-9
        assert abs(o.intercept - intercept / 100.0) < 1e-9

    pairs = {(r.user_id, str(r.ts.date())) for r in events}
    first = {}
    for u, day in pairs:
        first[u] = min(first.get(u, day), day)
    want = {}
    for u, day in pairs:
        new, ret = want.get(day, (0, 0))
        if day == first[u]:
            want[day] = (new + 1, ret)
        else:
            want[day] = (new, ret + 1)
    got = {
        r.day: (r.new_users, r.returning_users)
        for r in agg_new_returning(spark, sf_dir).collect()
    }
    assert got == want

    rev = {}
    for r in events:
        k = (r.event_type, str(r.ts.date()))
        rev[k] = rev.get(k, 0) + int(round(r.value * 100))
    by_t = {}
    for (t, day), c in rev.items():
        by_t.setdefault(t, []).append((day, c))
    want = {}
    for t, items in by_t.items():
        items.sort()
        for (pd_, pc), (d, c) in zip(items, items[1:]):
            if pc > 0:
                want[(t, d)] = (c / 100.0, (c - pc) / 100.0, round((c - pc) / pc, 9))
    got = {
        (r.event_type, r.day): (r.revenue, r.delta, r.pct_change)
        for r in time_pct_change(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, (rv, dl, pc) in got.items():
        assert rv == want[k][0] and dl == want[k][1]
        assert abs(pc - want[k][2]) < 1e-9

    days = {r.ts.date() for r in events}
    lo, hi = min(days), max(days)
    got = {r.day: r for r in time_calendar_dim(spark, sf_dir).collect()}
    d = lo
    n_rows = 0
    while d <= hi:
        o = got[str(d)]
        ep = (d - datetime.date(1970, 1, 1)).days
        dow = (ep + 4) % 7
        assert o.epoch_day == ep and o.dow == dow
        assert o.day_of_month == d.day and o.month == d.month
        assert o.quarter == (d.month + 2) // 3
        assert o.is_weekend == (dow in (0, 6))
        n_rows += 1
        d += datetime.timedelta(days=1)
    assert len(got) == n_rows


def test_vec_knn_ivf_int8_match_numpy(spark, sf_dir):
    """vec_knn_label (nearest-centroid confusion), vec_ann_ivf (IVF
    assign/probe/rerank), vec_int8_quantize (per-vector affine codes)
    vs NumPy replays of the same deterministic constructions."""
    import numpy as np

    from insight_patents_spark.operators.vector import (
        vec_ann_ivf,
        vec_int8_quantize,
        vec_knn_label,
    )
    from insight_patents_spark.sources.tables import load

    rows = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    labels = {r.vec_id: r.label for r in rows}

    # nearest-centroid classification
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(vecs[r.vec_id])
    def _qmean(col):
        # mirror _quantized_mean: floor to nano-units, exact int sum,
        # two float divisions
        return sum(math.floor(float(v) * 1e9) for v in col) / 1e9 / len(col)

    import math

    cents = {
        lab: np.asarray([_qmean(np.asarray(vs)[:, i]) for i in range(64)])
        for lab, vs in ((lab, vs) for lab, vs in by_label.items())
    }
    from collections import Counter

    want = Counter()
    for vid, v in vecs.items():
        scored = sorted(
            (round(float(v @ v - 2 * (v @ c) + c @ c), 9), lab)
            for lab, c in cents.items()
        )
        want[(labels[vid], scored[0][1])] += 1
    got = Counter(
        {(r.label, r.pred_label): r.n for r in vec_knn_label(spark, sf_dir).collect()}
    )
    assert got == want

    # IVF: seeds, nprobe=2, exact top-3 rerank
    seeds = {vid: v for vid, v in vecs.items() if vid % 50 == 0}
    top2 = {}
    for vid, v in vecs.items():
        ranked = sorted(
            ((-round(float(v @ cv), 9), cid) for cid, cv in seeds.items())
        )[:2]
        top2[vid] = [cid for _, cid in ranked]
    members = {}
    for vid, cells in top2.items():
        members.setdefault(cells[0], []).append(vid)
    want = set()
    for vid, cells in top2.items():
        cand = {
            n
            for c in cells
            for n in members.get(c, ())
            if n != vid
        }
        ranked = sorted(
            (-round(float(vecs[vid] @ vecs[n]), 9), n) for n in cand
        )[:3]
        for _, n in ranked:
            want.add((vid, n))
    got = {
        (r.vec_id, r.neighbor_id) for r in vec_ann_ivf(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0

    got = {r.vec_id: r for r in vec_int8_quantize(spark, sf_dir).collect()}
    n_checked = 0
    for vid, v in vecs.items():
        if vid % 40 != 0:
            continue
        lo, hi = float(v.min()), float(v.max())
        codes = ",".join(
            str(int(_rhu((x - lo) * 255.0 / (hi - lo), 0)))
            for x in v.tolist()
        )
        o = got[vid]
        assert o.lo == _rhu(lo, 9) and o.hi == _rhu(hi, 9)
        assert o.codes == codes
        n_checked += 1
    assert n_checked > 0


def test_bpe_pairs_match_python_counts(spark, sf_dir):
    """text_bpe_pairs: top-20 adjacent-character-pair merge candidates vs
    a Python Counter with the same (count desc, pair asc) tiebreak."""
    from collections import Counter

    from insight_patents_spark.operators.text import text_bpe_pairs
    from insight_patents_spark.sources.tables import load

    cnt = Counter()
    for r in load(spark, sf_dir, "documents").select("text").collect():
        for tok in r.text.split(" "):
            if len(tok) >= 2:
                for i in range(len(tok) - 1):
                    cnt[tok[i : i + 2]] += 1
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want = {(p, c, i + 1) for i, (p, c) in enumerate(ranked)}
    got = {tuple(r) for r in text_bpe_pairs(spark, sf_dir).collect()}
    assert got == want


def test_dedup_vector_and_signature_families_match_python(spark, sf_dir):
    """dedup_groups (token-set fingerprint groups), dedup_simhash (exact
    half-step sign bits), dedup_embed_cosine (IVF cell-scoped same-label
    cosine pairs — the r13 contract), dedup_semantic (SemDeDup
    cell-scoped removal) vs Python / NumPy replays."""
    import hashlib

    import numpy as np

    from insight_patents_spark.operators.text import dedup_groups, dedup_simhash
    from insight_patents_spark.operators.vector import (
        dedup_embed_cosine,
        dedup_semantic,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()
    sig_of = {
        r.doc_id: hashlib.md5(
            " ".join(sorted(set(r.text.split(" ")))).encode()
        ).hexdigest()
        for r in docs
    }
    groups = {}
    for did, sig in sig_of.items():
        groups.setdefault(sig, []).append(did)
    got = {r.doc_id: r for r in dedup_groups(spark, sf_dir).collect()}
    for did, sig in sig_of.items():
        o = got[did]
        members = groups[sig]
        assert o.group_sig == sig
        assert o.canonical_id == min(members)
        assert o.group_size == len(members)
        assert o.keep == (did == min(members))

    got = {r.doc_id: r.simhash_bits for r in dedup_simhash(spark, sf_dir).collect()}
    for r in docs:
        from collections import Counter

        tf = Counter(r.text.split(" "))
        sums = [0.0] * 16
        for tok, c in tf.items():
            h = hashlib.md5(tok.encode()).hexdigest()
            for i in range(16):
                w = "0123456789abcdef".index(h[i]) + 1 - 8.5
                sums[i] += c * w
        bits = "".join("1" if s > 0 else "0" for s in sums)
        assert got[r.doc_id] == bits

    rows = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    label_of = {r.vec_id: r.label for r in rows}
    seeds = {vid: v for vid, v in vecs.items() if vid % 50 == 0}
    assign = {}
    for vid, v in vecs.items():
        best = sorted(
            ((-round(float(v @ cv), 9), cid) for cid, cv in seeds.items())
        )[0]
        assign[vid] = (best[1], -best[0])
    cells = {}
    for vid, (cid, cc) in assign.items():
        cells.setdefault(cid, []).append(vid)

    # dedup_embed_cosine (r13 contract): candidate pairs share an IVF
    # assignment cell AND a label; exact cosine >= 0.3
    want = {}
    for cid, ids in cells.items():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if label_of[a] != label_of[b]:
                    continue
                cos = float(vecs[a] @ vecs[b])
                if cos >= 0.3:
                    want[(a, b)] = (label_of[a], cos)
    got = {
        (r.vec_a, r.vec_b): (r.label, r.cosine)
        for r in dedup_embed_cosine(spark, sf_dir).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k, (lab, cos) in got.items():
        assert lab == want[k][0] and abs(cos - want[k][1]) < 1e-12
    dominators = {}
    for cid, ids in cells.items():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if float(vecs[a] @ vecs[b]) >= 0.35:
                    ca, cb = assign[a][1], assign[b][1]
                    a_wins = ca > cb or (ca == cb and a < b)
                    rem, win = (b, a) if a_wins else (a, b)
                    dominators.setdefault((rem, cid), []).append(win)
    want = {
        k: (min(ws), len(ws)) for k, ws in dominators.items()
    }
    got = {
        (r.vec_id, r.cell_id): (r.removed_by, r.n_dominators)
        for r in dedup_semantic(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_lpa_mm_and_remaining_scans_match_python(spark, sf_dir):
    """graph_label_prop (4-round sync LPA with weight-argmax/min-label
    tie-break), mm_struct / mm_binary_features / mm_decode_stub (binary
    plumbing byte functions), scan_binary_files (blob identity),
    scan_python_datasource (generated feed) vs Python replays."""
    import hashlib

    from insight_patents_spark.operators.graph import graph_label_prop
    from insight_patents_spark.operators.multimodal import (
        mm_binary_features,
        mm_decode_stub,
    )
    from insight_patents_spark.operators.relational import scan_binary_files
    from insight_patents_spark.operators.vector import mm_struct
    from insight_patents_spark.sources.pyds import scan_python_datasource
    from insight_patents_spark.sources.tables import load

    pairs, adj = _brute_graph(spark, sf_dir)
    labels = {v: v for v in adj}
    for _ in range(4):
        new = {}
        for v in adj:
            wt = {}
            for u, w in adj[v].items():
                lu = labels[u]
                wt[lu] = wt.get(lu, 0) + w
            best = sorted(wt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[v] = best
        labels = new
    got = {r.node: r.community for r in graph_label_prop(spark, sf_dir).collect()}
    assert got == labels

    docs = load(spark, sf_dir, "documents").collect()
    emb = {
        r.vec_id: (r.label, r.embedding[0])
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    got = {r.doc_id: r for r in mm_struct(spark, sf_dir).collect()}
    n_joined = 0
    for r in docs:
        if r.doc_id in emb:
            o = got[r.doc_id]
            lab, e0 = emb[r.doc_id]
            assert (o.lang, o.label, o.text_len) == (r.lang, lab, len(r.text))
            assert o.emb_first == float(e0)
            n_joined += 1
    assert n_joined == len(got) > 0

    got = {r.doc_id: r for r in mm_binary_features(spark, sf_dir).collect()}
    for r in docs:
        o = got[r.doc_id]
        raw = r.text.encode()
        assert o.n_bytes == len(raw)
        assert o.first_byte == raw[0]
        assert o.digest == hashlib.md5(raw).hexdigest()

    got = {r.doc_id: r for r in mm_decode_stub(spark, sf_dir).collect()}
    for r in docs:
        n = len(r.text.encode())
        o = got[r.doc_id]
        assert (o.width, o.height, o.decoder) == (n % 64 + 1, n % 48 + 1, "fake")

    got = {r.doc_id: r for r in scan_binary_files(spark, sf_dir).collect()}
    n_blobs = 0
    for r in docs:
        if r.doc_id % 20 == 0:
            o = got[r.doc_id]
            raw = r.text.encode()
            assert o.byte_len == len(raw)
            assert o.content_md5 == hashlib.md5(raw).hexdigest()
            n_blobs += 1
    assert n_blobs == len(got) > 0

    feed = {r.grant_id: (r.week, r.fee, r.status) for r in scan_python_datasource(spark, sf_dir).collect()}
    statuses = ("granted", "pending", "expired")
    assert len(feed) == 10_000
    for gid, (week, fee, status) in feed.items():
        assert week == gid % 52 and fee == (gid * 7919) % 10000
        assert status == statuses[gid % 3]


def test_permissive_evolution_compaction_overwrite_jdbc_scan(spark, sf_dir):
    """scan_json_permissive (corrupt quarantine), scan_schema_evolution
    (mergeSchema NULL backfill), sink_compaction (lossless 64->4 file
    rewrite), sink_partition_overwrite (dynamic partition reload),
    scan_jdbc_partitioned (parallel range-predicated JDBC read) vs
    source-derived expectations."""
    from collections import Counter

    from insight_patents_spark.operators.relational import (
        scan_jdbc_partitioned,
        scan_json_permissive,
        scan_schema_evolution,
        sink_compaction,
        sink_partition_overwrite,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").collect()
    grp = {}
    for r in docs:
        grp.setdefault(r.lang, []).append(r.n_chars)
    got = {
        r.lang: (r.n_good, r.total_chars)
        for r in scan_json_permissive(spark, sf_dir).collect()
    }
    want = {lang: (len(cs), sum(cs)) for lang, cs in grp.items()}
    want["<corrupt>"] = (7, None)
    assert got == want

    region = load(spark, sf_dir, "region").collect()
    want = {
        (
            r.r_regionkey,
            r.r_name,
            len(r.r_name) if r.r_regionkey % 2 == 1 else None,
        )
        for r in region
    }
    assert {tuple(r) for r in scan_schema_evolution(spark, sf_dir).collect()} == want

    events = load(spark, sf_dir, "events").collect()
    cnt = Counter(r.event_type for r in events)
    rows = sink_compaction(spark, sf_dir).collect()
    assert {r.event_type: r.n_events for r in rows} == dict(cnt)
    for r in rows:
        assert r.files_before == min(64, len(events))
        assert r.files_after == min(4, len(events))

    orders = load(spark, sf_dir, "orders").collect()
    cnt = Counter(r.o_orderstatus for r in orders)
    got = {
        r.o_orderstatus: (r.n_orders, r.n_rewritten)
        for r in sink_partition_overwrite(spark, sf_dir).collect()
    }
    assert got == {
        s: (n, n if s == "F" else 0) for s, n in cnt.items()
    }

    want = {
        (r.c_custkey, r.c_nationkey, float(r.c_acctbal))
        for r in load(spark, sf_dir, "customer").collect()
        if r.c_acctbal > 0
    }
    got = {tuple(r) for r in scan_jdbc_partitioned(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def _md5i8(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_ml_rank_metrics_match_pairwise_python(spark, sf_dir):
    """ml_roc_auc vs the O(P*N) pairwise Mann-Whitney definition (the
    binned identity must equal literal pair counting with 0.5 ties);
    ml_average_precision and ml_lift_gains vs step-formula replays on
    Python-built bins."""
    from insight_patents_spark.operators.ml import (
        ml_average_precision,
        ml_lift_gains,
        ml_roc_auc,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    ).collect()
    per_doc = []  # (source, bin, pos)
    for r in docs:
        toks = r.text.split(" ")
        bin_ = (100 * len(set(toks))) // len(toks)
        per_doc.append((r.source, bin_, r.lang == "en"))

    # --- AUC: literal pairwise with midrank ties, per source
    want_auc = {}
    for src in sorted({s for s, _, _ in per_doc}):
        ps = [b for s, b, p in per_doc if s == src and p]
        ns = [b for s, b, p in per_doc if s == src and not p]
        if not ps or not ns:
            continue
        num = sum(
            1.0 if pb > nb else (0.5 if pb == nb else 0.0)
            for pb in ps
            for nb in ns
        )
        want_auc[src] = (len(ps), len(ns), num / (len(ps) * len(ns)))
    got_auc = {
        r.source: (r.n_pos, r.n_neg, r.auc)
        for r in ml_roc_auc(spark, sf_dir).collect()
    }
    assert set(got_auc) == set(want_auc)
    for src, (np_, nn, auc) in want_auc.items():
        gp, gn, ga = got_auc[src]
        assert (gp, gn) == (np_, nn)
        assert abs(ga - auc) < 1e-8, src

    # --- bins for AP / lift replays
    from collections import Counter

    pos_c, n_c = Counter(), Counter()
    for _, b, p in per_doc:
        n_c[b] += 1
        pos_c[b] += int(p)
    bins_desc = sorted(n_c, reverse=True)
    p_tot = sum(pos_c.values())
    n_tot = sum(n_c.values())

    tp = fp = 0
    want_ap = {}
    ap_sum = 0.0
    for b in bins_desc:
        tp += pos_c[b]
        fp += n_c[b] - pos_c[b]
        term = round(pos_c[b] * tp / (p_tot * (tp + fp)), 9)
        ap_sum += round(term * 1e9)
        want_ap[b] = (tp, fp, term)
    got_ap = {
        r.threshold_bin: (r.tp, r.fp, r.ap_term, r.ap_total)
        for r in ml_average_precision(spark, sf_dir).collect()
    }
    assert set(got_ap) == set(want_ap)
    for b, (tp_, fp_, term) in want_ap.items():
        g = got_ap[b]
        assert (g[0], g[1]) == (tp_, fp_)
        assert abs(g[2] - term) < 1e-9
        assert abs(g[3] - round(ap_sum / 1e9, 9)) < 1e-9

    cn = cp = 0
    want_lift = {}
    for b in bins_desc:
        cn += n_c[b]
        cp += pos_c[b]
        want_lift[b] = (cn, cp, cp * n_tot / (cn * p_tot))
    got_lift = {
        r.threshold_bin: (r.cum_n, r.cum_pos, r.lift)
        for r in ml_lift_gains(spark, sf_dir).collect()
    }
    assert set(got_lift) == set(want_lift)
    for b, (cn_, cp_, lift) in want_lift.items():
        g = got_lift[b]
        assert (g[0], g[1]) == (cn_, cp_)
        assert abs(g[2] - lift) < 1e-8


def test_psi_and_chi_square_match_python(spark, sf_dir):
    """ml_psi_drift vs a hashlib/math replay of the smoothed PSI;
    agg_chi_square vs the direct sum((O-E)^2/E) definition."""
    import math

    from insight_patents_spark.operators.aggregates import agg_chi_square
    from insight_patents_spark.operators.ml import ml_psi_drift
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    ).collect()

    # --- PSI replay
    from collections import Counter

    ca_c, cb_c = Counter(), Counter()
    for r in docs:
        if r.n_chars <= 0:
            continue
        b = int(r.n_chars).bit_length() - 1
        if _md5i8(str(r.doc_id)) % 2 == 0:
            ca_c[b] += 1
        else:
            cb_c[b] += 1
    buckets = sorted(set(ca_c) | set(cb_c))
    nb = len(buckets)
    ta = sum(ca_c.values()) + nb
    tb = sum(cb_c.values()) + nb
    want = {}
    tot_nano = 0
    for b in buckets:
        ca, cb = ca_c[b] + 1, cb_c[b] + 1
        term = round(
            (ca / ta - cb / tb) * math.log((ca * tb) / (cb * ta)), 9
        )
        tot_nano += round(term * 1e9)
        want[b] = (ca_c[b], cb_c[b], term)
    got = {
        r.bucket: (r.cnt_a, r.cnt_b, r.psi_term, r.psi_total)
        for r in ml_psi_drift(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for b, (a, c, term) in want.items():
        g = got[b]
        assert (g[0], g[1]) == (a, c)
        assert abs(g[2] - term) < 1e-9
        assert abs(g[3] - round(tot_nano / 1e9, 9)) < 1e-9

    # --- chi-square replay: direct (O-E)^2/E
    obs = Counter((r.lang, r.source) for r in docs)
    r_tot = Counter()
    c_tot = Counter()
    for (lg, sc), o in obs.items():
        r_tot[lg] += o
        c_tot[sc] += o
    n = sum(obs.values())
    got_chi = {
        (r.lang, r.source): (r.observed, r.expected, r.chi2_term, r.chi2_total, r.dof)
        for r in agg_chi_square(spark, sf_dir).collect()
    }
    assert set(got_chi) == set(obs)
    tot_nano = 0
    terms = {}
    for (lg, sc), o in obs.items():
        e = r_tot[lg] * c_tot[sc] / n
        term = round((o - e) ** 2 / e, 9)
        terms[(lg, sc)] = (o, e, term)
        tot_nano += round(term * 1e9)
    dof = (len(r_tot) - 1) * (len(c_tot) - 1)
    for k, (o, e, term) in terms.items():
        g = got_chi[k]
        assert g[0] == o
        assert abs(g[1] - e) < 1e-8
        assert abs(g[2] - term) < 1e-7  # cross-mult vs direct: same to fp
        assert g[4] == dof
        assert abs(g[3] - round(tot_nano / 1e9, 9)) < 1e-6


def test_ndcg_matches_python_replay(spark, sf_dir):
    """ml_ndcg vs a full Python replay: md5 relevance, both rankings,
    integer nano-discount dot products."""
    from insight_patents_spark.operators.ml import (
        _NDCG_DISC_NANO,
        _NDCG_K,
        ml_ndcg,
    )
    from insight_patents_spark.sources.tables import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    ).collect()
    by_user = {}
    for r in rows:
        rel = _md5i8(f"{r.user_id}:{r.event_id}") % 4
        by_user.setdefault(r.user_id, []).append((r.event_id, r.value, rel))
    want = {}
    for u, evs in by_user.items():
        # model ranking: value desc nulls last, event_id asc
        model = sorted(
            evs, key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0])
        )
        ideal = sorted(evs, key=lambda t: (-t[2], t[0]))
        dcg = sum(
            e[2] * _NDCG_DISC_NANO[i]
            for i, e in enumerate(model[:_NDCG_K])
        )
        idcg = sum(
            e[2] * _NDCG_DISC_NANO[i]
            for i, e in enumerate(ideal[:_NDCG_K])
        )
        ndcg = round(dcg / idcg, 9) if idcg > 0 else 0.0
        want[u] = (len(evs), round(dcg / 1e9, 9), round(idcg / 1e9, 9), ndcg)
    got = {
        r.user_id: (r.n_events, r.dcg, r.idcg, r.ndcg)
        for r in ml_ndcg(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for u, w in want.items():
        g = got[u]
        assert g[0] == w[0]
        for i in (1, 2, 3):
            assert abs(g[i] - w[i]) < 1e-9, u


def test_geo_knn_matches_bruteforce(spark, sf_dir):
    """geo_knn's two-stage cell refinement vs a NumPy all-pairs top-5 —
    the refinement must be EXACTLY the brute-force answer."""
    import numpy as np

    from insight_patents_spark.operators.joins import geo_knn
    from insight_patents_spark.sources.tables import load

    cust = [
        r.c_custkey
        for r in load(spark, sf_dir, "customer").select("c_custkey").collect()
    ]
    supp = [
        r.s_suppkey
        for r in load(spark, sf_dir, "supplier").select("s_suppkey").collect()
    ]
    ilat = np.array([_md5i8(f"lat{c}") % 1200001 - 600000 for c in cust])
    ilon = np.array([_md5i8(f"lon{c}") % 3600001 - 1800000 for c in cust])
    ids = np.array(cust)
    want = {}
    for s in supp:
        plat = _md5i8(f"plat{s}") % 1200001 - 600000
        plon = _md5i8(f"plon{s}") % 3600001 - 1800000
        d2q = 4 * (plat - ilat) ** 2 + (plon - ilon) ** 2
        order = np.lexsort((ids, d2q))[:5]
        want[s] = [(int(d2q[i]), int(ids[i])) for i in order]
    got = {}
    for r in geo_knn(spark, sf_dir).collect():
        got.setdefault(r.probe_id, []).append(
            (r.rank, r.d2q_units, r.item_id)
        )
    assert set(got) == set(want)
    for s, w in want.items():
        g = sorted(got[s])
        assert [(d, i) for _, d, i in g] == w, s


def test_winnowing_matches_python_and_covers_every_window(spark, sf_dir):
    """text_winnowing vs a literal hashlib replay of the
    Schleimer-Wilkerson-Aiken selection (min hash per window, rightmost
    tie), plus the winnowing coverage property: consecutive selected
    positions are never more than W apart (every window contributed)."""
    from insight_patents_spark.operators.text import (
        _WIN_K,
        _WIN_W,
        text_winnowing,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    want = set()
    gaps_ok = True
    for r in docs:
        t = r.text
        n = len(t) - _WIN_K + 1
        if n < _WIN_W:
            continue
        packed = [
            _md5i8(t[p - 1 : p - 1 + _WIN_K]) * 2147483648 + (2147483647 - p)
            for p in range(1, n + 1)
        ]
        sel = set()
        for i in range(_WIN_W, n + 1):
            sel.add(min(packed[i - _WIN_W : i]))
        poss = sorted(2147483647 - pk % 2147483648 for pk in sel)
        gaps_ok = gaps_ok and all(
            b - a <= _WIN_W for a, b in zip(poss, poss[1:])
        )
        for pk in sel:
            want.add((r.doc_id, 2147483647 - pk % 2147483648, pk // 2147483648))
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in text_winnowing(spark, sf_dir).collect()
    }
    assert got == want
    assert gaps_ok


def test_pair_support_mann_kendall_freshness_match_python(spark, sf_dir):
    """Batch replays for the r7 sequence/trend/freshness trio: literal
    first-occurrence pair counting, O(n^2) Mann-Kendall with tie
    correction, and epoch-second freshness arithmetic."""
    import math

    from insight_patents_spark.operators.relational import dq_freshness
    from insight_patents_spark.operators.sequences import seq_pair_support
    from insight_patents_spark.operators.windows import win_mann_kendall
    from insight_patents_spark.sources.tables import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    ).collect()

    # --- seq_pair_support: first occurrence per (user, type), ordered pairs
    firsts = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        v = (r.ts, r.event_id)
        if k not in firsts or v < firsts[k]:
            firsts[k] = v
    from collections import Counter, defaultdict

    by_user = defaultdict(dict)
    for (u, t), v in firsts.items():
        by_user[u][t] = v
    support = Counter()
    base = Counter(t for (_, t) in firsts)
    for u, tmap in by_user.items():
        for ta, va in tmap.items():
            for tb, vb in tmap.items():
                if ta != tb and va < vb:
                    support[(ta, tb)] += 1
    n_users = len(by_user)
    got = {
        (r.type_a, r.type_b): (r.support_n, r.support, r.confidence)
        for r in seq_pair_support(spark, sf_dir).collect()
    }
    assert set(got) == set(support)
    for k, n in support.items():
        g = got[k]
        assert g[0] == n
        assert abs(g[1] - n / n_users) < 1e-9
        assert abs(g[2] - n / base[k[0]]) < 1e-9

    # --- win_mann_kendall: O(n^2) replay on the daily cents grid
    grid = Counter()
    for r in rows:
        grid[(r.event_type, r.ts.date())] += int(round(r.value * 100))
    by_type = defaultdict(list)
    for (t, d), c in grid.items():
        by_type[t].append((d, c))
    got_mk = {
        r.event_type: (r.n_days, r.s_stat, r.var_s_18, r.z)
        for r in win_mann_kendall(spark, sf_dir).collect()
    }
    assert set(got_mk) == set(by_type)
    for t, series in by_type.items():
        series.sort()
        cs = [c for _, c in series]
        n = len(cs)
        s = sum(
            (cs[j] > cs[i]) - (cs[j] < cs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie = sum(
            cnt * (cnt - 1) * (2 * cnt + 5)
            for cnt in Counter(cs).values()
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie
        if s > 0:
            z = round((s - 1) / math.sqrt(var18 / 18.0), 9)
        elif s < 0:
            z = round((s + 1) / math.sqrt(var18 / 18.0), 9)
        else:
            z = 0.0
        g = got_mk[t]
        assert g[0] == n and g[1] == s and g[2] == var18
        assert abs(g[3] - z) < 1e-9

    # --- dq_freshness: epoch-second replay
    import calendar

    def es(ts):
        return calendar.timegm(ts.timetuple())

    all_es = [es(r.ts) for r in rows]
    anchor = max(all_es)
    per_type = defaultdict(list)
    for r in rows:
        per_type[r.event_type].append(es(r.ts))
    got_f = {
        r.event_type: (
            r.staleness_min,
            r.n_last_day,
            r.n_last_week,
            r.daily_avg,
            r.freshness_ratio,
            r.is_stale,
        )
        for r in dq_freshness(spark, sf_dir).collect()
    }
    assert set(got_f) == set(per_type)
    for t, ess in per_type.items():
        last = max(ess)
        span = (max(ess) - min(ess)) // 86400 + 1
        nd = sum(1 for x in ess if x > anchor - 86400)
        nw = sum(1 for x in ess if x > anchor - 604800)
        g = got_f[t]
        assert g[0] == (anchor - last) // 60
        assert (g[1], g[2]) == (nd, nw)
        assert abs(g[3] - len(ess) / span) < 1e-9
        assert abs(g[4] - nd * span / len(ess)) < 1e-9
        assert g[5] == ((anchor - last) > 86400)


def test_ks_separation_and_dsir_match_python(spark, sf_dir):
    """ml_ks_separation vs a direct ECDF-gap replay; text_dsir_weight
    vs a hashlib replay of the smoothed hashed-ngram LM log ratio."""
    import math
    from collections import Counter

    from insight_patents_spark.operators.ml import ml_ks_separation
    from insight_patents_spark.operators.text import (
        _DSIR_BUCKETS,
        text_dsir_weight,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    ).collect()

    # --- KS separation replay
    cells_p, cells_q = Counter(), Counter()
    for r in docs:
        toks = r.text.split(" ")
        b = (100 * len(set(toks))) // len(toks)
        (cells_p if r.lang == "en" else cells_q)[b] += 1
    np_, nq = sum(cells_p.values()), sum(cells_q.values())
    cp = cq = 0
    best = (-1, None)
    for b in sorted(set(cells_p) | set(cells_q)):
        cp += cells_p[b]
        cq += cells_q[b]
        num = abs(cp * nq - cq * np_)
        if num > best[0]:
            best = (num, b)
    row = ml_ks_separation(spark, sf_dir).collect()[0]
    assert (row.n_pos, row.n_neg) == (np_, nq)
    assert abs(row.ks_stat - best[0] / (np_ * nq)) < 1e-9
    assert row.ks_bin == best[1]

    # --- DSIR replay
    g = Counter()  # (doc, bucket) -> cnt ; lang per doc
    lang = {}
    for r in docs:
        toks = r.text.split(" ")
        feats = toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        lang[r.doc_id] = r.lang
        for f in feats:
            g[(r.doc_id, _md5i8(f) % _DSIR_BUCKETS)] += 1
    c_all, c_t = Counter(), Counter()
    for (d, b), c in g.items():
        c_all[b] += c
        if lang[d] == "en":
            c_t[b] += c
    ca, ct = sum(c_all.values()), sum(c_t.values())
    w_nano = {
        b: round(
            (
                math.log((c_t[b] + 1) / (ct + _DSIR_BUCKETS))
                - math.log((c_all[b] + 1) / (ca + _DSIR_BUCKETS))
            )
            * 1e9
        )
        for b in c_all
    }
    s_nano, n_feats = Counter(), Counter()
    for (d, b), c in g.items():
        s_nano[d] += c * w_nano[b]
        n_feats[d] += c
    got = {
        r.doc_id: (r.n_feats, r.logratio_per_feat, r.keep)
        for r in text_dsir_weight(spark, sf_dir).collect()
    }
    assert set(got) == set(n_feats)
    for d in n_feats:
        gd = got[d]
        assert gd[0] == n_feats[d]
        assert abs(gd[1] - round(s_nano[d] / (1e9 * n_feats[d]), 9)) < 1e-9
        assert gd[2] == (s_nano[d] > 0)


def test_decompose_and_peak_concurrency_match_python(spark, sf_dir):
    """time_decompose_classical vs a literal MA/weekday replay (and the
    additive identity value = trend + seasonal + residual); agg_peak_
    concurrency vs a brute-force per-second occupancy count."""
    from collections import Counter, defaultdict
    from datetime import date

    from insight_patents_spark.operators.sequences import (
        time_decompose_classical,
    )
    from insight_patents_spark.operators.windows import agg_peak_concurrency
    from insight_patents_spark.sources.tables import load

    rows = load(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts", "value"
    ).collect()

    # --- decomposition replay
    grid = Counter()
    for r in rows:
        grid[(r.event_type, r.ts.date())] += int(round(r.value * 100))
    by_type = defaultdict(dict)
    epoch = date(1970, 1, 1)
    for (t, dy), c in grid.items():
        by_type[t][(dy - epoch).days] = (dy, c)
    want = {}
    cells = defaultdict(list)  # (type, wd) -> [detr_nano]
    frames = {}
    for t, dmap in by_type.items():
        for d, (dy, c) in dmap.items():
            win = [dmap[x][1] for x in range(d - 3, d + 4) if x in dmap]
            if len(win) == 7:
                trend = round(sum(win) / 700.0, 9)
                detr_nano = round((c / 100.0 - trend) * 1e9)
                frames[(t, dy)] = (d % 7, c, trend, detr_nano)
                cells[(t, d % 7)].append(detr_nano)
    seas = {}
    for t in by_type:
        raws = {
            wd: round(sum(v) / (1e9 * len(v)), 9)
            for (tt, wd), v in cells.items()
            if tt == t
        }
        m = round(
            sum(round(x * 1e9) for x in raws.values()) / (1e9 * len(raws)), 9
        )
        for wd, raw in raws.items():
            seas[(t, wd)] = round(raw - m, 9)
    for (t, dy), (wd, c, trend, dn) in frames.items():
        want[(t, str(dy))] = (
            round(c / 100.0, 9),
            trend,
            seas[(t, wd)],
            round(dn / 1e9 - seas[(t, wd)], 9),
        )
    got = {
        (r.event_type, r.day): (r.value, r.trend, r.seasonal, r.residual)
        for r in time_decompose_classical(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        for i in range(4):
            # 1.6e-9: Python round() is banker's, Spark F.round is
            # HALF_UP — exactly-.5e-9 boundaries differ by 1e-9
            assert abs(g[i] - w[i]) < 1.6e-9, (k, i)
        # additive identity within rounding
        assert abs(g[0] - (g[1] + g[2] + g[3])) < 3e-9, k

    # --- peak concurrency replay: brute-force occupancy per marker time.
    # Gap splitting uses MICROsecond precision (the operator's rule);
    # interval endpoints floor to seconds; the sweep is half-open
    # [s, e+1) so zero-duration sessions count as open.
    import calendar

    sess = defaultdict(list)  # (type, user) -> [(ts, event_id)]
    for r in rows:
        sess[(r.event_type, r.user_id)].append((r.ts, r.event_id))
    intervals = defaultdict(list)  # type -> [(s_es, e_es)]
    for (t, _), evs in sess.items():
        evs.sort()
        groups = [[evs[0][0]]]
        for ts, _ in evs[1:]:
            if (ts - groups[-1][-1]).total_seconds() > 300.0:
                groups.append([])
            groups[-1].append(ts)
        for g in groups:
            ess = [calendar.timegm(x.timetuple()) for x in g]
            intervals[t].append((min(ess), max(ess)))
    got_pc = {
        r.event_type: (r.n_sessions, r.peak, r.peak_at_es)
        for r in agg_peak_concurrency(spark, sf_dir).collect()
    }
    assert set(got_pc) == set(intervals)
    for t, iv in intervals.items():
        marks = sorted(
            [(s, 1) for s, _ in iv] + [(e + 1, -1) for _, e in iv]
        , key=lambda m: (m[0], m[1]))
        cur = peak = 0
        peak_at = None
        for es, d in marks:
            cur += d
            if cur > peak:
                peak, peak_at = cur, es
        g = got_pc[t]
        assert g[0] == len(iv)
        assert g[1] == peak
        assert g[1] >= 1  # half-open sweep: sessions actually count
        assert g[2] == peak_at, t


def test_delong_ci_and_ece_match_python(spark, sf_dir):
    """ml_auc_delong_ci vs the literal per-observation DeLong structural
    components (V10 per positive, V01 per negative) — the binned moment
    identity must equal the textbook definition; ml_ece vs a replay on
    the Python-rebuilt calibration bins, and consistency with
    ml_calibration_bins' published columns."""
    import math
    from collections import Counter

    from insight_patents_spark.operators.ml import (
        ml_auc_delong_ci,
        ml_calibration_bins,
        ml_ece,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    ).collect()

    # --- DeLong replay from raw per-doc bins
    pos_bins, neg_bins = [], []
    for r in docs:
        toks = r.text.split(" ")
        b = (100 * len(set(toks))) // len(toks)
        (pos_bins if r.lang == "en" else neg_bins).append(b)
    np_, nq = len(pos_bins), len(neg_bins)
    v10 = [
        sum(1.0 if p > q else (0.5 if p == q else 0.0) for q in neg_bins) / nq
        for p in pos_bins
    ]
    v01 = [
        sum(1.0 if p > q else (0.5 if p == q else 0.0) for p in pos_bins) / np_
        for q in neg_bins
    ]
    auc = sum(v10) / np_
    s10 = sum((x - auc) ** 2 for x in v10) / (np_ - 1)
    s01 = sum((x - auc) ** 2 for x in v01) / (nq - 1)
    se = math.sqrt(s10 / np_ + s01 / nq)
    row = ml_auc_delong_ci(spark, sf_dir).collect()[0]
    assert (row.n_pos, row.n_neg) == (np_, nq)
    assert abs(row.auc - auc) < 1e-8
    assert abs(row.se - se) < 1e-8
    assert abs(row.ci_lo - (row.auc - 1.96 * row.se)) < 2e-9
    assert abs(row.ci_hi - (row.auc + 1.96 * row.se)) < 2e-9

    # --- ECE replay from ml_calibration_bins' own columns
    cal = {
        r.bin: (r.n, r.observed_rate, r.mean_predicted)
        for r in ml_calibration_bins(spark, sf_dir).collect()
    }
    nn = sum(n for n, _, _ in cal.values())
    want_terms = {
        b: round(abs(obs - conf) * n / nn, 9)
        for b, (n, obs, conf) in cal.items()
    }
    tot = round(sum(round(t * 1e9) for t in want_terms.values()) / 1e9, 9)
    got = {
        r.bin: (r.n, r.ece_term, r.ece_total)
        for r in ml_ece(spark, sf_dir).collect()
    }
    assert set(got) == set(want_terms)
    for b, t in want_terms.items():
        g = got[b]
        assert g[0] == cal[b][0]
        assert abs(g[1] - t) < 1.6e-9  # banker's vs HALF_UP boundary
        assert abs(g[2] - tot) < 1e-7


def test_refint_theilsen_clusters_match_python(spark, sf_dir):
    """Final r7 trio replays: FK orphan/coverage counting with Python
    sets, Theil-Sen vs statistics.median of literal pairwise slopes,
    and grid clustering vs a BFS connected-components replay."""
    import statistics
    from collections import Counter, defaultdict, deque

    from insight_patents_spark.operators.joins import geo_cluster_cells
    from insight_patents_spark.operators.relational import (
        dq_referential_integrity,
    )
    from insight_patents_spark.operators.windows import win_theil_sen
    from insight_patents_spark.sources.tables import load

    # --- referential integrity
    cust = {r.c_custkey for r in load(spark, sf_dir, "customer").collect()}
    part = {r.p_partkey for r in
            load(spark, sf_dir, "part").select("p_partkey").collect()}
    supp = {r.s_suppkey for r in
            load(spark, sf_dir, "supplier").select("s_suppkey").collect()}
    orders = [
        (r.o_orderkey, r.o_custkey)
        for r in load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .collect()
    ]
    li = [
        (r.l_orderkey, r.l_partkey, r.l_suppkey)
        for r in load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .collect()
    ]
    okeys = {o for o, _ in orders}

    def fkstats(children, parents):
        orphans = [k for k in children if k not in parents]
        used = {k for k in children if k in parents}
        return (
            len(children),
            len(orphans),
            len(set(orphans)),
            round(len(orphans) / len(children), 9),
            round(len(used) / len(parents), 9),
        )

    want = {
        "orders.custkey->customer": fkstats([c for _, c in orders], cust),
        "lineitem.orderkey->orders": fkstats([o for o, _, _ in li], okeys),
        "lineitem.partkey->part": fkstats([p for _, p, _ in li], part),
        "lineitem.suppkey->supplier": fkstats([s for _, _, s in li], supp),
    }
    got = {
        r.fk_edge: (
            r.n_child, r.n_orphan, r.n_orphan_keys,
            r.orphan_ratio, r.parent_coverage,
        )
        for r in dq_referential_integrity(spark, sf_dir).collect()
    }
    assert got.keys() == want.keys()
    for k, w in want.items():
        g = got[k]
        assert g[:3] == w[:3], k
        assert abs(g[3] - w[3]) < 1e-9 and abs(g[4] - w[4]) < 1e-9, k

    # --- Theil-Sen
    rows = load(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).collect()
    from datetime import date

    grid = Counter()
    for r in rows:
        grid[(r.event_type, (r.ts.date() - date(1970, 1, 1)).days)] += int(
            round(r.value * 100)
        )
    series = defaultdict(list)
    for (t, d), c in grid.items():
        series[t].append((d, c))
    got_ts = {
        r.event_type: (r.n_days, r.slope_per_day, r.intercept)
        for r in win_theil_sen(spark, sf_dir).collect()
    }
    for t, pts in series.items():
        pts.sort()
        slopes = [
            (c2 - c1) / (d2 - d1)
            for i, (d1, c1) in enumerate(pts)
            for (d2, c2) in pts[i + 1:]
        ]
        slope = round(statistics.median(slopes) / 100.0, 9)
        resid = [round(c / 100.0 - slope * d, 9) for d, c in pts]
        icept = round(statistics.median(resid), 9)
        g = got_ts[t]
        assert g[0] == len(pts)
        assert abs(g[1] - slope) < 1e-9
        assert abs(g[2] - icept) < 1e-9

    # --- grid clustering via BFS replay
    from insight_patents_spark.operators.joins import (
        _GEO_LAT_CELL,
        _GEO_LON_CELL,
        _GEO_MINPTS,
    )

    cellcnt = Counter()
    for cid in cust:
        lat = _md5i8(f"lat{cid}") % 1200001 - 600000
        lon = _md5i8(f"lon{cid}") % 3600001 - 1800000
        cellcnt[
            (lat // _GEO_LAT_CELL, lon // _GEO_LON_CELL)
        ] += 1
    dense = {k: v for k, v in cellcnt.items() if v >= _GEO_MINPTS}
    seen = set()
    want_cl = {}
    for start in dense:
        if start in seen:
            continue
        comp, q = [], deque([start])
        seen.add(start)
        while q:
            cy, cx = q.popleft()
            comp.append((cy, cx))
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    nb = (cy + dy, cx + dx)
                    if nb in dense and nb not in seen:
                        seen.add(nb)
                        q.append(nb)
        cid = min((cy + 12) * 1000 + (cx + 18) for cy, cx in comp)
        want_cl[cid] = (len(comp), sum(dense[c] for c in comp))
    noise_cells = [v for k, v in cellcnt.items() if v < _GEO_MINPTS]
    want_cl[-1] = (len(noise_cells), sum(noise_cells))
    got_cl = {
        r.cluster_id: (r.n_cells, r.n_points)
        for r in geo_cluster_cells(spark, sf_dir).collect()
    }
    assert got_cl == want_cl


def test_holt_winters_matches_python_recursion(spark, sf_dir):
    """win_holt_winters vs a literal Python replay of the additive
    Holt-Winters recursion (the definition, not the fold mechanics)."""
    from collections import defaultdict

    from insight_patents_spark.operators.windows import (
        _HW_ALPHA,
        _HW_BETA,
        _HW_GAMMA,
        win_holt_winters,
    )
    from insight_patents_spark.sources.tables import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    ).collect()
    series = defaultdict(list)
    for r in rows:
        series[r.user_id].append(
            (r.ts, r.event_id, float(int(round(r.value * 100))))
        )
    got = {
        r.user_id: (r.n_events, r.level, r.trend, r.forecast_next)
        for r in win_holt_winters(spark, sf_dir).collect()
    }
    assert set(got) == set(series)
    for u, evs in series.items():
        evs.sort()
        ys = [y for _, _, y in evs]
        l, b, s = ys[0], 0.0, [0.0] * 7
        for y in ys[1:]:
            ln = _HW_ALPHA * (y - s[0]) + (1 - _HW_ALPHA) * (l + b)
            bn = _HW_BETA * (ln - l) + (1 - _HW_BETA) * b
            s = s[1:] + [_HW_GAMMA * (y - ln) + (1 - _HW_GAMMA) * s[0]]
            l, b = ln, bn
        g = got[u]
        assert g[0] == len(ys)
        assert abs(g[1] - round(l / 100.0, 9)) < 1.6e-9
        assert abs(g[2] - round(b / 100.0, 9)) < 1.6e-9
        assert abs(g[3] - round((l + b + s[0]) / 100.0, 9)) < 1.6e-9


def test_pair_support_and_dsir_adversarial_frames(spark):
    """Synthetic frames for the cases the generated data never produces
    (found in the r7 self-review): simultaneous first occurrences must
    tie-break on the FIRST event's id (not the key's global min id),
    and single-token documents must not crash the DSIR bigram builder.
    Also: a zero-duration-session workload must report peak >= 1 (the
    half-open sweep contract)."""
    import datetime as dt

    from insight_patents_spark.operators.sequences import _pair_support
    from insight_patents_spark.operators.text import _dsir_weight

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    # user 1: type A first at ts0 with id 100 (a LATER A has the smaller
    # id 5); type B first at the SAME ts0 with id 50. First-event
    # tiebreak: B (50) precedes A (100) -> expect B->A, never A->B.
    ev = spark.createDataFrame(
        [
            (1, "A", t0, 100),
            (1, "A", t0 + dt.timedelta(seconds=40), 5),
            (1, "B", t0, 50),
        ],
        "user_id bigint, event_type string, ts timestamp_ntz, event_id bigint",
    )
    pairs = {
        (r.type_a, r.type_b): r.support_n
        for r in _pair_support(ev).collect()
    }
    assert pairs.get(("B", "A")) == 1
    assert ("A", "B") not in pairs

    # single-token and empty-text docs must flow through DSIR (Spark's
    # sequence(1, 0) returns DESCENDING [1, 0] and element_at(t, 0)
    # throws without the size guard)
    docs = spark.createDataFrame(
        [(1, "solo", "en"), (2, "", "xx"), (3, "two tokens here", "en")],
        "doc_id bigint, text string, lang string",
    )
    out = {r.doc_id: r.n_feats for r in _dsir_weight(docs).collect()}
    assert out[1] == 1  # one unigram, zero bigrams
    assert out[2] == 1  # '' splits to [''] -> one (empty) unigram
    assert out[3] == 5  # 3 unigrams + 2 bigrams


def test_pmi_cooccur_matches_python(spark, sf_dir):
    """text_pmi_cooccur vs a literal Python replay of presence-based
    pair counting and the PMI/NPMI definitions."""
    import math
    from collections import Counter

    from insight_patents_spark.operators.text import (
        _PMI_MIN_DOCS,
        text_pmi_cooccur,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    tokfreq, pairfreq = Counter(), Counter()
    n_docs = 0
    for r in docs:
        toks = sorted(set(r.text.split(" ")))
        if not toks:
            continue
        n_docs += 1
        for t in toks:
            tokfreq[t] += 1
        for i, x in enumerate(toks):
            for y in toks[i + 1:]:
                pairfreq[(x, y)] += 1
    want = {}
    for (x, y), cxy in pairfreq.items():
        if cxy < _PMI_MIN_DOCS or cxy >= n_docs:
            continue
        pmi = round(math.log(n_docs * cxy / (tokfreq[x] * tokfreq[y])), 9)
        npmi = round(
            math.log(n_docs * cxy / (tokfreq[x] * tokfreq[y]))
            / math.log(n_docs / cxy),
            9,
        )
        want[(x, y)] = (cxy, tokfreq[x], tokfreq[y], pmi, npmi)
    got = {
        (r.token_x, r.token_y): (r.c_xy, r.c_x, r.c_y, r.pmi, r.npmi)
        for r in text_pmi_cooccur(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g[:3] == w[:3], k
        assert abs(g[3] - w[3]) < 1.6e-9 and abs(g[4] - w[4]) < 1.6e-9, k


def test_pipeline_e2e_matches_componentwise_run(spark, sf_dir):
    """pipeline_patents_e2e composes the SAME logic its component
    queries run piecewise: the flagship's ranks must equal
    graph_pagerank's for every surfaced node (same fixture, same
    quantized loop), every brand keeps <= 3 rows with dense pos, and
    the sink round-trip must not perturb a single value."""
    from insight_patents_spark.operators.graph import graph_pagerank
    from insight_patents_spark.operators.pipeline import (
        _TOPK_PER_CLASS,
        pipeline_patents_e2e,
    )

    got = pipeline_patents_e2e(spark, sf_dir).collect()
    assert got
    pr = {r.node: r.rank for r in graph_pagerank(spark, sf_dir).collect()}
    by_brand = {}
    for r in got:
        assert r.rank == pr[r.node], (r.node, r.rank, pr[r.node])
        by_brand.setdefault(r.p_brand, []).append(r)
    for brand, rows in by_brand.items():
        assert 1 <= len(rows) <= _TOPK_PER_CLASS, brand
        assert sorted(r.pos for r in rows) == list(range(1, len(rows) + 1))
        rows.sort(key=lambda r: r.pos)
        ranks = [r.rank for r in rows]
        assert ranks == sorted(ranks, reverse=True), brand


def test_ktruss_matches_python_peel(spark, sf_dir):
    """graph_ktruss vs a pure-Python support peel on the collected
    canonical pair list: identical surviving edge set and per-edge
    final support (integer-exact, no tolerance)."""
    from insight_patents_spark.operators.graph import (
        _KTRUSS_K,
        _pairs,
        graph_ktruss,
    )

    edges = {(r.pa, r.pb) for r in _pairs(spark, sf_dir).collect()}
    while True:
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
        sup = {}
        for a, b in edges:
            # triangles x<y<z counted once; credit all three edges
            for c in adj.get(b, set()):
                if c in adj.get(a, set()):
                    for e in ((a, b), (b, c), (a, c)):
                        sup[e] = sup.get(e, 0) + 1
        kept = {e for e in edges if sup.get(e, 0) >= _KTRUSS_K - 2}
        if kept == edges:
            break
        edges = kept
    got = {(r.pa, r.pb): r.support for r in graph_ktruss(spark, sf_dir).collect()}
    assert set(got) == edges
    for e, s in got.items():
        assert s == sup[e], (e, s, sup[e])


def test_skyline3d_matches_bruteforce(spark, sf_dir):
    """win_skyline_3d vs a quadratic Python dominance check over the
    same integer metrics — exact set equality (the skyline is unique)."""
    from insight_patents_spark.operators.windows import win_skyline_3d
    from insight_patents_spark.sources.tables import load

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_uniq"),
        F.length("text").alias("len_c"),
    )
    pts = [(r.doc_id, r.n_tok, r.n_uniq, r.len_c) for r in d.collect()]
    want = set()
    for p in pts:
        dominated = any(
            q[1] >= p[1] and q[2] >= p[2] and q[3] <= p[3]
            and (q[1] > p[1] or q[2] > p[2] or q[3] < p[3])
            for q in pts
        )
        if not dominated:
            want.add(p)
    got = {
        (r.doc_id, r.n_tok, r.n_uniq, r.len_c)
        for r in win_skyline_3d(spark, sf_dir).collect()
    }
    assert got == want


def test_sliding_hll_tracks_exact(spark, sf_dir):
    """win_sliding_hll's exact column must equal win_sliding_distinct's
    counts window-for-window, and every estimate flag must be true."""
    from insight_patents_spark.operators.windows import (
        win_sliding_distinct,
        win_sliding_hll,
    )

    exact = {
        (r.event_type, r.window_end): r.distinct_users
        for r in win_sliding_distinct(spark, sf_dir).collect()
    }
    rows = win_sliding_hll(spark, sf_dir).collect()
    assert len(rows) == len(exact)
    for r in rows:
        assert r.exact_users == exact[(r.event_type, r.window_end)]
        assert r.est_within_10pct, (r.event_type, r.window_end)


def test_cell_kmeans_lloyd_step_reduces_inertia(spark, sf_dir):
    """The Lloyd guarantee: one update+reassign step never increases a
    cell's inertia vs the seed split (vec_cell_refine) — up to the
    documented 1e-6 inertia quantum + 1e-9 centroid quantization."""
    from insight_patents_spark.operators.vector import (
        vec_cell_kmeans,
        vec_cell_refine,
    )

    before = {}
    for r in vec_cell_refine(spark, sf_dir).collect():
        before[r.cell] = before.get(r.cell, 0.0) + r.inertia
    after = {}
    counts = {}
    for r in vec_cell_kmeans(spark, sf_dir).collect():
        after[r.cell] = after.get(r.cell, 0.0) + r.inertia
        counts[r.cell] = counts.get(r.cell, 0) + r.n_members
    assert set(after) == set(before)
    for cell, j_after in after.items():
        assert j_after <= before[cell] + 1e-3, (cell, j_after, before[cell])
    # membership is preserved by the re-assignment (no vector lost)
    ref_counts = {}
    for r in vec_cell_refine(spark, sf_dir).collect():
        ref_counts[r.cell] = ref_counts.get(r.cell, 0) + r.n_members
    assert counts == ref_counts


def test_url_canonical_invariants(spark, sf_dir):
    """Every doc lands in exactly one canonical group; canonical URLs
    carry no tracking params, fragments, default ports, or uppercase;
    the keeper is the group's min doc_id by construction."""
    from insight_patents_spark.operators.text import dedup_url_canonical
    from insight_patents_spark.sources.tables import load

    rows = dedup_url_canonical(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        cu = r.canonical_url
        assert "utm_" not in cu and "#" not in cu and ":443" not in cu, cu
        assert cu == cu.lower(), cu
        assert 1 <= r.n_raw_variants <= r.n_docs
        assert cu.startswith("https://")


def test_group_parity_arithmetic(spark, sf_dir):
    """ml_group_parity invariants: group counts partition the corpus,
    rates equal n_kept/n_docs, the impact ratio is 1.0 for exactly the
    best-treated group(s), and parity diffs reconstruct the overall
    rate."""
    from insight_patents_spark.operators.ml import ml_group_parity
    from insight_patents_spark.sources.tables import load

    rows = ml_group_parity(spark, sf_dir).collect()
    assert rows
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    overall = round(sum(r.n_kept for r in rows) / n_docs, 9)
    max_rate = max(r.keep_rate for r in rows)
    for r in rows:
        assert r.keep_rate == round(r.n_kept / r.n_docs, 9)
        assert r.parity_diff == round(r.keep_rate - overall, 9)
        assert r.impact_ratio == round(r.keep_rate / max_rate, 9)
        assert 0.0 < r.impact_ratio <= 1.0
    assert any(r.impact_ratio == 1.0 for r in rows)


def test_boilerplate_flag_matches_bruteforce(spark, sf_dir):
    """text_boilerplate_flag vs a pure-Python 5-gram df scorer on the
    collected corpus — exact counts, ratios, and flags."""
    from collections import defaultdict

    from insight_patents_spark.operators.text import (
        _BOILER_DF,
        _BOILER_N,
        text_boilerplate_flag,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    gram_docs = defaultdict(set)
    per_doc = {}
    for r in docs:
        toks = r.text.split(" ")
        grams = [
            " ".join(toks[i : i + _BOILER_N])
            for i in range(len(toks) - _BOILER_N + 1)
        ]
        if grams:
            per_doc[r.doc_id] = grams
            for g in set(grams):
                gram_docs[g].add(r.doc_id)
    got = {r.doc_id: r for r in text_boilerplate_flag(spark, sf_dir).collect()}
    assert set(got) == set(per_doc)
    for doc_id, grams in per_doc.items():
        n_boiler = sum(1 for g in grams if len(gram_docs[g]) >= _BOILER_DF)
        r = got[doc_id]
        assert r.n_grams == len(grams)
        assert r.n_boiler == n_boiler
        assert r.boiler_ratio == round(n_boiler / len(grams), 9)
        assert r.drop_flag == (n_boiler * 10 >= len(grams) * 3)


def test_bpe_train_matches_python_replay(spark, sf_dir):
    """text_bpe_train vs a pure-Python Sennrich BPE loop on the
    collected word counts — identical merges, counts, and order."""
    from collections import Counter

    from insight_patents_spark.operators.text import _BPE_ROUNDS, text_bpe_train
    from insight_patents_spark.sources.tables import load

    wc = Counter()
    for r in load(spark, sf_dir, "documents").select("text").collect():
        for w in r.text.split(" "):
            if w:
                wc[w] += 1
    words = {tuple(w): n for w, n in wc.items()}
    want = []
    for rank in range(1, _BPE_ROUNDS + 1):
        pc = Counter()
        for sym, n in words.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] += n
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, l, r, l + r, cnt))
        merged = {}
        for sym, n in words.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            merged[key] = merged.get(key, 0) + n
        words = merged
    got = [
        (row.merge_rank, row.l, row.r, row.merged, row.pair_count)
        for row in text_bpe_train(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == want


def test_hyperball_exact_matches_bruteforce(spark, sf_dir):
    """graph_hyperball's exact column vs a pure-Python 3-hop BFS on the
    collected edges, and every HLL flag true."""
    from insight_patents_spark.operators.graph import (
        _HYPERBALL_RADIUS,
        _pairs,
        graph_hyperball,
    )

    adj = {}
    for r in _pairs(spark, sf_dir).collect():
        adj.setdefault(r.pa, set()).add(r.pb)
        adj.setdefault(r.pb, set()).add(r.pa)
    want = {}
    for v in adj:
        reach = {v}
        frontier = {v}
        for _ in range(_HYPERBALL_RADIUS):
            frontier = {w for u in frontier for w in adj[u]} - reach
            reach |= frontier
        want[v] = len(reach)
    got = graph_hyperball(spark, sf_dir).collect()
    assert {r.node: r.exact_reach3 for r in got} == want
    assert all(r.est_within_10pct for r in got)


def test_dedup_cluster_cc_matches_union_find(spark, sf_dir):
    """dedup_cluster_cc vs a Python union-find over the same verified
    pair list: identical clustering, keepers, and sizes."""
    from collections import Counter

    from insight_patents_spark.operators.text import (
        dedup_cluster_cc,
        dedup_minhash_pairs,
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_pairs(spark, sf_dir).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    # canonicalize to min doc_id per component
    comp_min = {}
    for v, r in want.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[r] for v, r in want.items()}
    sizes = Counter(want.values())
    got = {r.doc_id: r for r in dedup_cluster_cc(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for doc, cl in want.items():
        r = got[doc]
        assert r.cluster_id == cl
        assert r.keep == (doc == cl)
        assert r.cluster_size == sizes[cl]


def test_short_doc_guards_no_crash(spark, tmp_path):
    """Regression for the Spark sequence(1, <=0)-is-DESCENDING class:
    1-token and 3-token documents must flow through every gram/bigram
    operator without element_at(_, 0) / slice(_, 0, n) runtime errors,
    contributing zero grams (the oracle's half-open range semantics)."""
    import pandas as pd

    from insight_patents_spark.operators.text import (
        text_bigram_lm,
        text_boilerplate_flag,
        text_decontaminate,
        text_ngrams,
    )

    sf = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["solo", "a b c", "one two three four five six", "x y"],
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": [4, 5, 27, 3],
        }
    ).to_parquet(f"{sf}/documents.parquet")
    ngrams = text_ngrams(spark, sf).collect()
    assert {r.bigram for r in ngrams} >= {"a b", "x y"}
    assert all("solo" not in r.bigram for r in ngrams)
    lm = text_bigram_lm(spark, sf).collect()
    assert lm  # pairs from the multi-token docs only
    bf = text_boilerplate_flag(spark, sf).collect()
    assert {r.doc_id for r in bf} == {2}  # only the >=5-token doc
    de = text_decontaminate(spark, sf).collect()
    assert all(r.doc_id != 0 for r in de) or not de


def test_bootstrap_ci_brackets_point_mean(spark, sf_dir):
    """agg_bootstrap_ci invariants: 32 replicates per type, ci_lo <=
    ci_hi, and on this deterministic corpus every type's Poisson-
    bootstrap CI brackets the exact point mean (replicate means of
    ~10^4-row groups concentrate tightly; the fixture makes this a
    fixed, reproducible fact, not a flaky sample)."""
    from insight_patents_spark.operators.aggregates import agg_bootstrap_ci

    rows = agg_bootstrap_ci(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_replicates == 32
        assert r.ci_lo <= r.ci_hi
        assert r.ci_lo <= r.mean_value <= r.ci_hi, r
        assert r.n_events > 0


def test_winsorize_means_inside_cuts(spark, sf_dir):
    """agg_winsorize invariants: cuts ordered, both robust means lie
    inside [lo_cut, hi_cut], and group sizes partition orders."""
    from insight_patents_spark.operators.aggregates import agg_winsorize
    from insight_patents_spark.sources.tables import load

    rows = agg_winsorize(spark, sf_dir).collect()
    assert rows
    n_orders = load(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders
    for r in rows:
        assert r.lo_cut <= r.hi_cut
        assert r.lo_cut <= r.mean_winsor <= r.hi_cut, r
        assert r.lo_cut <= r.mean_trimmed <= r.hi_cut, r


def test_bollinger_band_ordering(spark, sf_dir):
    """win_bollinger invariants: sd >= 0, lower <= mid <= upper, each
    emitted row sits on a full 20-day frame (per-type row count =
    n_days - 19), and sd equals the POPULATION stddev of the frame
    replayed in Python (the factor-of-n scale bug class the mirrored
    oracle cannot catch)."""
    from collections import defaultdict

    from insight_patents_spark.operators.windows import (
        _BOLL_DAYS,
        win_bollinger,
    )
    from insight_patents_spark.sources.tables import load

    rows = win_bollinger(spark, sf_dir).collect()
    assert rows
    grid = defaultdict(dict)
    for g in (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.expr("CAST(ROUND(value*100,0) AS BIGINT)")).alias("x")
        )
        .collect()
    ):
        grid[g.event_type][str(g.day)] = g.x
    for r in rows:
        assert r.sd >= 0.0
        assert r.lower_band <= r.mid <= r.upper_band, r
        days = sorted(grid[r.event_type])
        idx = days.index(r.day)
        frame = [grid[r.event_type][d] for d in days[idx - (_BOLL_DAYS - 1) : idx + 1]]
        assert len(frame) == _BOLL_DAYS
        mean = sum(frame) / len(frame)
        var = sum((x - mean) ** 2 for x in frame) / len(frame)
        assert abs(r.sd - (var**0.5) / 100.0) <= 1e-3, r
        assert abs(r.mid - mean / 100.0) <= 1e-3, r
    days = (
        load(spark, sf_dir, "events")
        .select("event_type", F.col("ts").cast("date").alias("day"))
        .distinct()
        .groupBy("event_type")
        .count()
        .collect()
    )
    want = {d.event_type: max(0, d["count"] - (_BOLL_DAYS - 1)) for d in days}
    got: dict[str, int] = {}
    for r in rows:
        got[r.event_type] = got.get(r.event_type, 0) + 1
    assert got == {k: v for k, v in want.items() if v > 0}


def test_brier_decomp_identity(spark, sf_dir):
    """ml_brier_decomp: totals are constant across rows; reliability
    and resolution are nonnegative; uncertainty = base*(1-base) is in
    [0, 0.25]; and the Murphy identity rel - res + unc equals the
    BINNED-forecaster Brier, which differs from brier_raw only by
    within-bin score variance/covariance terms — each bounded by the
    0.01 centile bin width, so the two agree within 0.011."""
    from insight_patents_spark.operators.ml import ml_brier_decomp

    rows = ml_brier_decomp(spark, sf_dir).collect()
    assert rows
    rel = {r.reliability for r in rows}
    res = {r.resolution for r in rows}
    unc = {r.uncertainty for r in rows}
    braw = {r.brier_raw for r in rows}
    assert len(rel) == len(res) == len(unc) == len(braw) == 1
    (rel,), (res,), (unc,), (braw,) = rel, res, unc, braw
    assert rel >= 0.0 and res >= 0.0
    assert 0.0 <= unc <= 0.25
    assert abs(braw - (rel - res + unc)) <= 0.011, (braw, rel, res, unc)
    assert 0.0 <= braw <= 1.0
    for r in rows:
        assert 0 <= r.bin <= 100
        assert 0 <= r.n_pos <= r.n


def test_shap_linear_matches_numpy_replay(spark, sf_dir):
    """ml_shap_linear vs an exact Python replay of the closed-form
    linear Shapley importance (same md5 buckets/weights, same nano
    quantization split between present and absent docs)."""
    import hashlib
    from collections import Counter

    from insight_patents_spark.operators.ml import (
        _LR_BUCKETS,
        ml_shap_linear,
    )
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    cnt: Counter = Counter()
    for d in docs:
        for t in d.text.split(" "):
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % _LR_BUCKETS
            cnt[(d.doc_id, b)] += 1
    n_total = len({k[0] for k in cnt})
    want = {}
    for b in range(_LR_BUCKETS):
        w = int(hashlib.md5(f"w{b}".encode()).hexdigest()[:4], 16) % 101 - 50
        cnts = [v for (doc, bb), v in cnt.items() if bb == b]
        mu = float(sum(cnts)) / n_total
        qdev = sum(int(abs(c - mu) * 1e9) for c in cnts) + (
            n_total - len(cnts)
        ) * int(mu * 1e9)
        want[b] = (
            w,
            len(cnts),
            round(mu, 9),
            round(abs(w) * (float(qdev) / (n_total * 1e9)) / 100.0, 9),
        )
    rows = ml_shap_linear(spark, sf_dir).collect()
    assert len(rows) == _LR_BUCKETS
    for r in rows:
        w, n_with, mean_count, shap = want[r.bucket]
        assert r.w_centi == w
        assert r.n_docs_with == n_with
        assert abs(r.mean_count - mean_count) <= 2e-9
        assert abs(r.mean_abs_shap - shap) <= 2e-9, (r, want[r.bucket])


def test_dedup_lines_first_occurrence_exact(spark, sf_dir):
    """dedup_lines: the number of kept lines corpus-wide equals the
    number of DISTINCT line hashes (each survives exactly once), and
    every doc keeps between 1 and all of its lines... (a doc's first
    line can still lose to an earlier doc, so the lower bound is 0 for
    non-first docs; checked per-doc as 0 <= kept <= lines)."""
    from insight_patents_spark.operators.text import _LINE_TOKENS, dedup_lines
    from insight_patents_spark.sources.tables import load

    rows = dedup_lines(spark, sf_dir).collect()
    assert rows
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(rows) == len(docs)
    distinct_lines = len(
        {
            " ".join(d.text.split(" ")[i : i + _LINE_TOKENS])
            for d in docs
            for i in range(
                0, max(1, len(d.text.split(" "))), _LINE_TOKENS
            )
        }
    )
    assert sum(r.n_kept for r in rows) == distinct_lines
    for r in rows:
        assert 0 <= r.n_kept <= r.n_lines
        assert r.retained_ratio == round(r.n_kept / r.n_lines, 9)


def test_theil_index_matches_python_replay(spark, sf_dir):
    """agg_theil_index vs an exact Python replay (same cents, same
    term order, same nano quantization); both indices nonnegative by
    Jensen's inequality."""
    from collections import defaultdict
    import math

    from insight_patents_spark.operators.aggregates import agg_theil_index
    from insight_patents_spark.sources.tables import load

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = defaultdict(int)
    seg_of = {r.c_custkey: r.c_mktsegment for r in c.collect()}
    for r in o.collect():
        cents[(seg_of[r.o_custkey], r.o_custkey)] += int(
            round(r.o_totalprice * 100)
        )
    by_seg = defaultdict(list)
    for (seg, _), v in cents.items():
        by_seg[seg].append(v)
    rows = agg_theil_index(spark, sf_dir).collect()
    assert {r.c_mktsegment for r in rows} == set(by_seg)
    for r in rows:
        xs = by_seg[r.c_mktsegment]
        n, s = len(xs), sum(xs)
        mu = s * 1.0 / n
        tt = sum(round(round((x / mu) * math.log(x / mu), 9) * 1e9) for x in xs)
        tl = sum(round(round(math.log(mu / x), 9) * 1e9) for x in xs)
        assert r.n_customers == n
        assert abs(r.theil_t - round(tt / (n * 1e9), 9)) <= 2e-9
        assert abs(r.theil_l - round(tl / (n * 1e9), 9)) <= 2e-9
        assert r.theil_t >= 0.0 and r.theil_l >= 0.0


def test_croston_matches_python_replay(spark, sf_dir):
    """time_croston vs a sequential Python replay of the recursion on
    each type's demand-day series (identical float op order)."""
    from collections import defaultdict

    from insight_patents_spark.operators.sequences import (
        _CROSTON_ALPHA,
        time_croston,
    )
    from insight_patents_spark.sources.tables import load

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(value*100,0) AS BIGINT)")).alias("d"))
        .filter(F.col("d") > 0)
        .collect()
    )
    series = defaultdict(list)
    for r in e:
        series[r.event_type].append((r.day, float(r.d)))
    rows = {r.event_type: r for r in time_croston(spark, sf_dir).collect()}
    for typ, pts in series.items():
        pts.sort()
        if len(pts) < 2:
            assert typ not in rows
            continue
        # classic Croston init: z = FIRST demand size, p = first interval
        z = pts[0][1]
        p = float((pts[1][0] - pts[0][0]).days)
        for i in range(1, len(pts)):
            q = float((pts[i][0] - pts[i - 1][0]).days)
            z = z + _CROSTON_ALPHA * (pts[i][1] - z)
            p = p + _CROSTON_ALPHA * (q - p)
        r = rows[typ]
        assert r.n_demand_days == len(pts)
        assert abs(r.smoothed_demand - round(z / 100.0, 9)) <= 2e-9
        assert abs(r.smoothed_interval - round(p, 9)) <= 2e-9
        assert abs(r.forecast_per_day - round(z / (100.0 * p), 9)) <= 2e-9


def test_kalman_matches_python_replay(spark, sf_dir):
    """win_kalman_1d vs a sequential Python replay per user; the
    variance must approach the Riccati fixpoint of (P+Q)R/(P+Q+R)."""
    from collections import defaultdict

    from insight_patents_spark.operators.windows import (
        _KF_Q,
        _KF_R,
        win_kalman_1d,
    )
    from insight_patents_spark.sources.tables import load

    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series = defaultdict(list)
    for r in ev:
        series[r.user_id].append((r.ts, r.event_id, float(int(round(r.value * 100)))))
    rows = {r.user_id: r for r in win_kalman_1d(spark, sf_dir).collect()}
    assert set(rows) == set(series)
    # Riccati fixpoint: P^2 + (2Q - (Q)) ... solve P = (P+Q)R/(P+Q+R)
    import math

    pfix = (-_KF_Q + math.sqrt(_KF_Q * _KF_Q + 4 * _KF_Q * _KF_R)) / 2
    for uid, pts in series.items():
        pts.sort()
        ys = [y for _, _, y in pts]
        x, p, k = ys[0], _KF_R, 0.0
        for y in ys[1:]:
            k = (p + _KF_Q) / (p + _KF_Q + _KF_R)
            x = x + k * (y - x)
            p = (1.0 - k) * (p + _KF_Q)
        r = rows[uid]
        assert r.n_events == len(ys)
        assert abs(r.level - round(x / 100.0, 9)) <= 2e-9
        assert abs(r.variance - round(p, 9)) <= 2e-9
        assert abs(r.last_gain - round(k, 9)) <= 2e-9
        if len(ys) > 30:
            assert abs(r.variance - pfix) < 1.0  # converged near fixpoint


def test_sma_crossover_alternates(spark, sf_dir):
    """time_sma_crossover: within a type, consecutive crossings
    alternate direction, and the reported MAs agree with the sign
    (golden => short > long, death => short < long). Alternation can
    legitimately break only across an exact-tie day (sgn=0, i.e.
    s7*28 == s28*7 on integer cents) — absent from this fixture; if
    the driver ever regenerates data with a tie, relax this to the
    sign-consistency check only."""
    from collections import defaultdict

    from insight_patents_spark.operators.sequences import time_sma_crossover

    rows = time_sma_crossover(spark, sf_dir).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for typ, rs in by_type.items():
        rs.sort(key=lambda r: r.day)
        for prev, cur in zip(rs, rs[1:]):
            assert prev.cross_type != cur.cross_type, (typ, prev, cur)
        for r in rs:
            if r.cross_type == "golden":
                assert r.short_ma > r.long_ma, r
            else:
                assert r.short_ma < r.long_ma, r


def test_causal_did_matches_python_replay(spark, sf_dir):
    """agg_causal_did vs an exact Python replay of the 2x2 cell means
    and the Welch SE (same md5 assignment, same fixed-order float
    composition)."""
    import hashlib
    import math
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import (
        _DID_SPLIT,
        agg_causal_did,
    )
    from insight_patents_spark.sources.tables import load

    from datetime import date

    split = date.fromisoformat(_DID_SPLIT)
    ev = load(spark, sf_dir, "events").select(
        "event_type", "user_id", "ts", "value"
    ).collect()
    cells = defaultdict(lambda: [0, 0, 0])  # n, s, sxx
    for r in ev:
        tr = int(hashlib.md5(f"t:{r.user_id}".encode()).hexdigest()[:2], 16) % 2
        po = 0 if r.ts.date() < split else 1
        c = int(round(r.value * 100))
        k = (r.event_type, tr, po)
        cells[k][0] += 1
        cells[k][1] += c
        cells[k][2] += c * c
    rows = agg_causal_did(spark, sf_dir).collect()
    for row in rows:
        m, vn = {}, {}
        for (typ, tr, po), (n, s, sxx) in cells.items():
            if typ != row.event_type:
                continue
            m[(tr, po)] = round(float(s) / (100.0 * n), 9)
            vn[(tr, po)] = float(n * sxx - s * s) / (float(n) * (n - 1) * n)
        did = m[(1, 1)] - m[(1, 0)] - m[(0, 1)] + m[(0, 0)]
        se = (
            math.sqrt(vn[(1, 1)] + vn[(1, 0)] + vn[(0, 1)] + vn[(0, 0)])
            / 100.0
        )
        assert abs(row.did - round(did, 9)) <= 2e-9
        assert abs(row.se - round(se, 9)) <= 2e-9
        assert abs(row.t_stat - round(did / se, 9)) <= 2e-9


def test_cuped_matches_python_replay(spark, sf_dir):
    """agg_cuped vs an exact Python replay of the pooled theta and the
    closed-form adjusted variance. The POOLED theta minimizes pooled —
    not per-group — variance, and this synthetic corpus has near-zero
    pre/post correlation, so a group ratio can sit slightly above 1;
    the guarantee worth pinning is the moment arithmetic, plus a loose
    no-blow-up band on the ratio."""
    import hashlib
    from collections import defaultdict
    from datetime import date

    from insight_patents_spark.operators.aggregates import (
        _DID_SPLIT,
        agg_cuped,
    )
    from insight_patents_spark.sources.tables import load

    split = date.fromisoformat(_DID_SPLIT)
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value")
        .collect()
    )
    xy = defaultdict(lambda: [0, 0])
    for r in ev:
        c = int(round(r.value * 100))
        xy[r.user_id][0 if r.ts.date() < split else 1] += c
    us = [
        (
            int(hashlib.md5(f"t:{u}".encode()).hexdigest()[:2], 16) % 2,
            x,
            y,
        )
        for u, (x, y) in xy.items()
    ]
    n = len(us)
    sx = sum(x for _, x, _ in us)
    sy = sum(y for _, _, y in us)
    sxx = sum(x * x for _, x, _ in us)
    sxy = sum(x * y for _, x, y in us)
    theta = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    mx_all = float(sx) / n
    rows = {r.treated: r for r in agg_cuped(spark, sf_dir).collect()}
    assert set(rows) == {0, 1}
    for tr in (0, 1):
        g = [(x, y) for t, x, y in us if t == tr]
        gn = len(g)
        gsx = sum(x for x, _ in g)
        gsy = sum(y for _, y in g)
        gsxx = sum(x * x for x, _ in g)
        gsyy = sum(y * y for _, y in g)
        gsxy = sum(x * y for x, y in g)
        my, mx = float(gsy) / gn, float(gsx) / gn
        vy = float(gn * gsyy - gsy * gsy) / (float(gn) * (gn - 1))
        vx = float(gn * gsxx - gsx * gsx) / (float(gn) * (gn - 1))
        cxy = float(gn * gsxy - gsx * gsy) / (float(gn) * (gn - 1))
        vc = vy - 2 * theta * cxy + theta * theta * vx
        r = rows[tr]
        assert r.n_users == gn
        assert abs(r.theta - round(theta, 9)) <= 2e-9
        assert abs(r.mean_y - round(my / 100.0, 9)) <= 2e-9
        assert (
            abs(r.mean_y_cuped - round((my - theta * (mx - mx_all)) / 100.0, 9))
            <= 2e-9
        )
        assert abs(r.var_y_cuped - round(vc / 10000.0, 9)) <= 2e-9
        assert 0.0 < r.var_ratio < 1.2


def test_tokenizer_apply_matches_python_encode(spark, sf_dir):
    """text_tokenizer_apply vs a Python re-encode of every document
    using the merges text_bpe_train reports (greedy left-to-right
    non-overlapping application per merge, in rank order)."""
    from insight_patents_spark.operators.text import (
        text_bpe_train,
        text_tokenizer_apply,
    )
    from insight_patents_spark.sources.tables import load

    merges = [
        (r.l, r.r)
        for r in sorted(
            text_bpe_train(spark, sf_dir).collect(), key=lambda r: r.merge_rank
        )
    ]
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    rows = {r.doc_id: r for r in text_tokenizer_apply(spark, sf_dir).collect()}
    for d in docs:
        n_words = n_chars = n_tok = 0
        for w in d.text.split(" "):
            if not w:
                continue
            s = "|" + "|".join(w) + "|"
            for left, right in merges:
                s = s.replace(f"|{left}|{right}|", f"|{left}{right}|")
            n_words += 1
            n_chars += len(w)
            n_tok += len(s.strip("|").split("|"))
        r = rows[d.doc_id]
        assert (r.n_words, r.n_chars, r.n_bpe_tokens) == (
            n_words,
            n_chars,
            n_tok,
        ), d.doc_id
        assert r.n_bpe_tokens <= r.n_chars


def test_tree_inference_matches_python_walk(spark, sf_dir):
    """ml_tree_inference vs a Python walk of the same import-time tree
    constants over every document."""
    from insight_patents_spark.operators.ml import _TREES, ml_tree_inference
    from insight_patents_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    rows = {r.doc_id: r for r in ml_tree_inference(spark, sf_dir).collect()}
    for d in docs:
        toks = d.text.split(" ")
        feats = (len(toks), len(d.text), len(set(toks)))
        total = 0
        for t in _TREES:
            (f0, t0), (f1, t1), (f2, t2) = t["nodes"]
            if feats[f0] <= t0:
                leaf = t["leaves"][0] if feats[f1] <= t1 else t["leaves"][1]
            else:
                leaf = t["leaves"][2] if feats[f2] <= t2 else t["leaves"][3]
            total += leaf
        r = rows[d.doc_id]
        assert (r.n_tokens, r.n_chars, r.n_distinct) == feats
        assert r.leaf_sum_centi == total
        assert abs(r.score - round(total / 400.0, 9)) <= 1e-12
        assert r.keep == (total > 0)


def test_path_count_dag_matches_python_dp(spark, sf_dir):
    """graph_path_count_dag vs a Python dynamic program over the
    collected DAG edge list (exact path counts per level)."""
    from collections import Counter, defaultdict

    from insight_patents_spark.operators.graph import (
        _PATHCOUNT_DEPTH,
        _edges,
        graph_path_count_dag,
    )

    es = [
        (r.src, r.dst)
        for r in _edges(spark, sf_dir).select("src", "dst").collect()
        if r.src < r.dst
    ]
    adj = defaultdict(list)
    for s, t in es:
        adj[s].append(t)
    seeds = {s for s, _ in es if s % 500 == 0}
    counts = Counter()
    for s in seeds:
        for t in adj[s]:
            counts[(1, t)] += 1
    for r in range(2, _PATHCOUNT_DEPTH + 1):
        prev = {n: c for (lv, n), c in counts.items() if lv == r - 1}
        for n, c in prev.items():
            for t in adj[n]:
                counts[(r, t)] += c
    want = defaultdict(lambda: [0] * _PATHCOUNT_DEPTH)
    for (lv, n), c in counts.items():
        want[n][lv - 1] = c
    rows = graph_path_count_dag(spark, sf_dir).collect()
    got = {
        r.node: (r.n_paths_1, r.n_paths_2, r.n_paths_3, r.n_paths_total)
        for r in rows
    }
    assert set(got) == set(want)
    for n, (c1, c2, c3) in want.items():
        assert got[n] == (c1, c2, c3, c1 + c2 + c3), n


def test_power_mde_identities(spark, sf_dir):
    """agg_power_mde: mde_rel reconstructs mde over mean; the 1%-lift
    sample size inverts back to a per-arm MDE of ~1% of the mean; all
    figures positive."""
    from insight_patents_spark.operators.aggregates import (
        _POWER_K,
        agg_power_mde,
    )

    rows = agg_power_mde(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.sd_value > 0 and r.mde_abs > 0 and r.n_per_arm_for_1pct > 0
        assert abs(r.mde_rel - r.mde_abs / r.mean_value) < 1e-6
        # invert: with n_per_arm_for_1pct per arm, MDE should be ~1% of mean
        implied = _POWER_K * (
            (2 * (r.sd_value**2) / r.n_per_arm_for_1pct) ** 0.5
        )
        assert abs(implied / r.mean_value - 0.01) < 1e-4


def test_shapley_attribution_matches_python_lattice(spark, sf_dir):
    """seq_attribution_shapley vs a full Python replay (journey
    truncation, touch masks, subset-sum lattice, exact integer Shapley
    numerators) + the efficiency axiom: numerators sum to
    12*(conv(full) - conv(empty))."""
    from collections import defaultdict

    from insight_patents_spark.operators.sequences import (
        _SHAP_W12,
        seq_attribution_shapley,
    )
    from insight_patents_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    ).collect()
    first_p = {}
    for r in ev:
        if r.event_type == "purchase":
            if r.user_id not in first_p or r.ts < first_p[r.user_id]:
                first_p[r.user_id] = r.ts
    bit = {"click": 1, "error": 2, "signup": 4, "view": 8}
    masks = defaultdict(int)
    users = set()
    for r in ev:
        users.add(r.user_id)
        if r.user_id in first_p and r.ts > first_p[r.user_id]:
            continue
        if r.event_type != "purchase":
            masks[r.user_id] |= bit[r.event_type]
    n = len(users)
    conv_by_mask = defaultdict(int)
    for u in users:
        if u in first_p:
            conv_by_mask[masks.get(u, 0)] += 1
    cs = [
        sum(c for m, c in conv_by_mask.items() if (m & s) == m)
        for s in range(16)
    ]
    rows = {r.channel: r for r in seq_attribution_shapley(spark, sf_dir).collect()}
    nums = {}
    for i, chname in enumerate(("click", "error", "signup", "view")):
        num = sum(
            _SHAP_W12[bin(s).count("1")] * (cs[s | (1 << i)] - cs[s])
            for s in range(16)
            if not (s >> i) & 1
        )
        nums[chname] = num
        r = rows[chname]
        assert r.shapley_num == num, (chname, r.shapley_num, num)
        assert abs(r.shapley_value - round(num / (12.0 * n), 9)) <= 2e-9
    assert sum(nums.values()) == 12 * (cs[15] - cs[0])  # efficiency


def test_vwap_matches_python_replay(spark, sf_dir):
    """win_vwap vs a Python replay of the integer ratio sums (monthly
    and anchored), and the anchored VWAP equals the monthly VWAP on
    each brand's first month."""
    from collections import defaultdict

    from insight_patents_spark.operators.windows import win_vwap
    from insight_patents_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"
    ).collect()
    brand = {
        r.p_partkey: r.p_brand
        for r in load(spark, sf_dir, "part").select(
            "p_partkey", "p_brand"
        ).collect()
    }
    grid = defaultdict(lambda: [0, 0])
    for r in li:
        ym = r.l_shipdate.strftime("%Y-%m")
        k = (brand[r.l_partkey], ym)
        pc = int(round(r.l_extendedprice * 100))
        q = int(round(r.l_quantity))
        grid[k][0] += pc * q
        grid[k][1] += q
    rows = {(r.brand, r.ym): r for r in win_vwap(spark, sf_dir).collect()}
    assert set(rows) == set(grid)
    cum = defaultdict(lambda: [0, 0])
    for (b, ym) in sorted(grid):
        pv, v = grid[(b, ym)]
        cum[b][0] += pv
        cum[b][1] += v
        r = rows[(b, ym)]
        assert r.volume == v
        assert abs(r.vwap - round(float(pv) / (100.0 * v), 4)) <= 2e-4
        assert (
            abs(r.anchored_vwap - round(float(cum[b][0]) / (100.0 * cum[b][1]), 4))
            <= 2e-4
        )


def test_price_elasticity_r2_bounds(spark, sf_dir):
    """agg_price_elasticity: r_squared in [0, 1] (it is the product of
    the two regression slopes = squared correlation), per-brand line
    counts partition the joined fact."""
    from insight_patents_spark.operators.aggregates import (
        agg_price_elasticity,
    )
    from insight_patents_spark.sources.tables import load

    rows = agg_price_elasticity(spark, sf_dir).collect()
    assert rows
    n_lines = (
        load(spark, sf_dir, "lineitem")
        .filter(F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT) >= 1"))
        .count()
    )
    assert sum(r.n_lines for r in rows) == n_lines
    for r in rows:
        assert -0.0000001 <= r.r_squared <= 1.0000001, r


def test_fd_discovery_known_dependencies(spark, sf_dir):
    """dq_fd_discovery: key-based FDs must hold (c_custkey -> c_name,
    doc_id -> lang); low-cardinality lhs over higher-cardinality rhs
    must fail with positive violation mass; holds <=> n_violating=0."""
    from insight_patents_spark.operators.relational import dq_fd_discovery

    rows = {(r.tbl, r.lhs, r.rhs): r for r in dq_fd_discovery(spark, sf_dir).collect()}
    assert rows[("customer", "c_custkey", "c_name")].holds
    assert rows[("documents", "doc_id", "lang")].holds
    assert not rows[("customer", "c_mktsegment", "c_nationkey")].holds
    for r in rows.values():
        assert r.holds == (r.n_violating == 0)
        assert r.n_pairs >= r.n_lhs >= 1


def test_threshold_opt_is_grid_argmax(spark, sf_dir):
    """ml_threshold_opt's chosen bin must dominate every bin of
    ml_pr_curve's F1 sweep at beta=1 (same grid, same arithmetic), and
    precision/recall reconstruct from the reported counts."""
    from insight_patents_spark.operators.ml import ml_pr_curve, ml_threshold_opt

    opt = {r.beta: r for r in ml_threshold_opt(spark, sf_dir).collect()}
    assert set(opt) == {0.5, 1.0, 2.0}
    curve = ml_pr_curve(spark, sf_dir).collect()
    best_f1 = max(r.f1_at for r in curve)
    assert abs(opt[1.0].fbeta - best_f1) <= 2e-9
    for r in opt.values():
        assert r.precision_at == round(r.tp / (r.tp + r.fp), 9)
        assert r.recall_at == round(r.tp / (r.tp + r.fn), 9)
        assert 0.0 <= r.fbeta <= 1.0


def test_mrr_bounded_by_recall(spark, sf_dir):
    """vec_mrr_eval invariants: found_rank in {0,1,2,3}; rr_sixths
    matches the rank; MRR equals the exact sixths mean; and MRR <= 
    hit-rate of the truth neighbor (reciprocal rank <= 1 per probe)."""
    from insight_patents_spark.operators.vector import vec_mrr_eval

    rows = vec_mrr_eval(spark, sf_dir).collect()
    assert rows
    rrmap = {0: 0, 1: 6, 2: 3, 3: 2}
    tot = sum(r.rr_sixths for r in rows)
    mrr = {round(tot / (6.0 * len(rows)), 9)}
    for r in rows:
        assert r.found_rank in rrmap
        assert r.rr_sixths == rrmap[r.found_rank]
        assert r.mrr in mrr
    hit_rate = sum(1 for r in rows if r.found_rank > 0) / len(rows)
    assert rows[0].mrr <= hit_rate + 1e-9


def test_delta_ratio_ci_matches_python_replay(spark, sf_dir):
    """agg_delta_ratio_ci vs an exact Python replay of the user moment
    matrix and the delta-method variance; CI brackets the ratio."""
    import hashlib
    import math
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import (
        _Z975,
        agg_delta_ratio_ci,
    )
    from insight_patents_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    xy = defaultdict(lambda: [0, 0])
    for r in ev:
        if r.event_type == "purchase":
            xy[r.user_id][0] += int(round(r.value * 100))
        elif r.event_type == "view":
            xy[r.user_id][1] += 1
        else:
            xy[r.user_id]  # user exists with zero x/y
    rows = {r.treated: r for r in agg_delta_ratio_ci(spark, sf_dir).collect()}
    groups = defaultdict(list)
    for u, (x, y) in xy.items():
        t = int(hashlib.md5(f"t:{u}".encode()).hexdigest()[:2], 16) % 2
        groups[t].append((x, y))
    for t, pts in groups.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        r_ = float(sx) / float(sy)
        my = float(sy) / n
        vx = float(n * sxx - sx * sx) / (float(n) * (n - 1))
        vy = float(n * syy - sy * sy) / (float(n) * (n - 1))
        cxy = float(n * sxy - sx * sy) / (float(n) * (n - 1))
        se = math.sqrt((vx - 2 * r_ * cxy + r_ * r_ * vy) / (n * my * my))
        row = rows[t]
        assert row.n_users == n
        assert abs(row.ratio - round(r_ / 100.0, 9)) <= 2e-9
        assert abs(row.se - round(se / 100.0, 9)) <= 2e-9
        assert abs(row.ci_lo - round((r_ - _Z975 * se) / 100.0, 9)) <= 2e-9
        assert row.ci_lo <= row.ratio <= row.ci_hi


def test_mann_whitney_matches_scipy_convention(spark, sf_dir):
    """agg_mann_whitney vs a Python midrank replay (U and the
    tie-corrected z), mirroring the textbook formulas directly."""
    import math
    from collections import Counter

    from insight_patents_spark.operators.aggregates import agg_mann_whitney
    from insight_patents_spark.sources.tables import load

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "value")
        .collect()
    )
    c1 = Counter()
    ct = Counter()
    for r in ev:
        c = int(round(r.value * 100))
        ct[c] += 1
        if r.event_type == "view":
            c1[c] += 1
    n1 = sum(c1.values())
    nn = sum(ct.values())
    n2 = nn - n1
    below = 0
    r1x2 = 0
    tie3 = 0
    for v in sorted(ct):
        t = ct[v]
        r1x2 += c1[v] * (2 * below + t + 1)
        tie3 += t * t * t - t
        below += t
    u = n1 * n2 + n1 * (n1 + 1) / 2.0 - r1x2 / 2.0
    var = n1 * n2 / 12.0 * ((nn + 1) - tie3 / (float(nn) * (nn - 1)))
    row = agg_mann_whitney(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert abs(row.u_stat - round(u, 4)) <= 1e-4
    assert abs(row.z_score - round((u - n1 * n2 / 2.0) / math.sqrt(var), 9)) <= 2e-9


def test_powerlaw_fit_matches_python_mle(spark, sf_dir):
    """graph_powerlaw_fit vs a Python replay of the CSN estimator on
    the collected degree sequence; alpha must exceed 1."""
    import math
    from collections import Counter

    from insight_patents_spark.operators.graph import (
        _edges,
        graph_powerlaw_fit,
    )

    deg = Counter()
    for r in _edges(spark, sf_dir).select("src").collect():
        deg[r.src] += 1
    grid = Counter(deg.values())
    n = sum(grid.values())
    sq = sum(
        cnt * round(round(math.log(2.0 * d), 9) * 1e9) for d, cnt in grid.items()
    )
    row = graph_powerlaw_fit(spark, sf_dir).collect()[0]
    assert row.n_nodes == n
    assert abs(row.alpha - round(1.0 + n / (sq / 1e9), 9)) <= 2e-9
    assert row.alpha > 1.0
    assert abs(
        row.mean_degree - round(sum(deg.values()) / float(n), 9)
    ) <= 2e-9


def test_balanced_classes_near_minority(spark, sf_dir):
    """sample_balanced_classes: the minority class keeps everything
    (rate = 1 is an always-true integer test), every class's kept count
    is <= its size, and each kept count sits within a 5-sigma binomial
    band around the minority size."""
    from insight_patents_spark.operators.relational import (
        sample_balanced_classes,
    )

    rows = sample_balanced_classes(spark, sf_dir).collect()
    assert rows
    m = rows[0].n_minority
    for r in rows:
        assert r.n_minority == m
        assert 0 <= r.n_kept <= r.n_class
        if r.n_class == m:
            assert r.n_kept == m  # rate 1: u48*n < n*2^48 always true
        else:
            p = m / r.n_class
            sigma = (r.n_class * p * (1 - p)) ** 0.5
            assert abs(r.n_kept - m) <= 5 * sigma + 1, r


def test_richclub_matches_python_count(spark, sf_dir):
    """graph_richclub vs a Python recount of rich nodes/edges at each
    k; phi within [0, 1]; monotone n_rich as k grows."""
    from collections import Counter

    from insight_patents_spark.operators.graph import (
        _RICHCLUB_KS,
        _edges,
        graph_richclub,
    )

    es = [(r.src, r.dst) for r in _edges(spark, sf_dir).select("src", "dst").collect()]
    deg = Counter()
    for s, _ in es:
        deg[s] += 1
    rows = {r.k: r for r in graph_richclub(spark, sf_dir).collect()}
    assert set(rows) == set(_RICHCLUB_KS)
    prev_rich = None
    for k in sorted(_RICHCLUB_KS):
        n_rich = sum(1 for d in deg.values() if d > k)
        e_rich = sum(
            1 for s, t in es if s < t and deg[s] > k and deg[t] > k
        )
        r = rows[k]
        assert (r.n_rich, r.e_rich) == (n_rich, e_rich), k
        if n_rich >= 2:
            assert abs(
                r.phi - round(2.0 * e_rich / (n_rich * (n_rich - 1.0)), 9)
            ) <= 2e-9
            assert 0.0 <= r.phi <= 1.0
        if prev_rich is not None:
            assert n_rich <= prev_rich
        prev_rich = n_rich


def test_fairness_eo_rates_reconstruct(spark, sf_dir):
    """ml_fairness_eo: cells partition the corpus, the kept cells are
    exactly ml_group_parity's kept docs per source (one decision), rates
    reconstruct from cells, gaps are vs the pooled rates, and
    eo_distance is the max of all per-group gaps."""
    from insight_patents_spark.operators.ml import ml_fairness_eo, ml_group_parity
    from insight_patents_spark.sources.tables import load

    rows = ml_fairness_eo(spark, sf_dir).collect()
    assert rows
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r.tp + r.fn + r.fp + r.tn for r in rows) == n_docs
    n_kept = {r.source: r.n_kept for r in ml_group_parity(spark, sf_dir).collect()}
    assert {r.source: r.tp + r.fp for r in rows} == n_kept
    otp = sum(r.tp for r in rows)
    ofn = sum(r.fn for r in rows)
    ofp = sum(r.fp for r in rows)
    otn = sum(r.tn for r in rows)
    tpr_all = round(otp / (otp + ofn), 9)
    fpr_all = round(ofp / (ofp + otn), 9)
    gaps = []
    for r in rows:
        if r.tp + r.fn > 0:
            assert r.tpr == round(r.tp / (r.tp + r.fn), 9)
            assert r.tpr_gap == round(abs(r.tpr - tpr_all), 9)
        if r.fp + r.tn > 0:
            assert r.fpr == round(r.fp / (r.fp + r.tn), 9)
            assert r.fpr_gap == round(abs(r.fpr - fpr_all), 9)
        gaps.append(round(max(abs(r.tpr - tpr_all), abs(r.fpr - fpr_all)), 9))
    assert {r.eo_distance for r in rows} == {max(gaps)}


def test_isotonic_is_pav_fit(spark, sf_dir):
    """ml_calibration_isotonic vs a classic sequential PAV replay on
    the same bin grid (the max-min characterization must equal the
    pooling algorithm's output), plus monotonicity and the
    weighted-mean preservation property."""
    from insight_patents_spark.operators.ml import ml_calibration_isotonic

    rows = sorted(
        ml_calibration_isotonic(spark, sf_dir).collect(), key=lambda r: r.bin
    )
    assert rows
    # sequential PAV on (n, n_pos) pools
    pools = []  # [sum_pos, sum_n]
    for r in rows:
        pools.append([r.n_pos, r.n])
        while len(pools) >= 2 and (
            pools[-2][0] * pools[-1][1] >= pools[-1][0] * pools[-2][1]
        ):
            b = pools.pop()
            pools[-1][0] += b[0]
            pools[-1][1] += b[1]
    # expand pools back to bins
    expanded = []
    it = iter(rows)
    for p, n in pools:
        acc = 0
        while acc < n:
            r = next(it)
            acc += r.n
            expanded.append(p / n)
        assert acc == n
    prev = -1.0
    for r, want in zip(rows, expanded):
        assert abs(r.iso_rate - round(want, 9)) <= 2e-9, (r.bin, r.iso_rate, want)
        assert r.iso_rate >= prev - 1e-12
        prev = r.iso_rate
    total_pos = sum(r.n_pos for r in rows)
    total_n = sum(r.n for r in rows)
    fitted_mass = sum(r.iso_rate * r.n for r in rows)
    assert abs(fitted_mass - total_pos) <= 1e-3 * total_n


def test_asof_tolerance_matches_bruteforce(spark, sf_dir):
    """join_asof_tolerance vs brute force over collected events: the
    latest click at-or-before each purchase matches iff within the
    tolerance; unmatched purchases survive with NULLs."""
    from collections import defaultdict

    from insight_patents_spark.operators.joins import (
        _ASOF_TOL_US,
        join_asof_tolerance,
    )
    from insight_patents_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    clicks = defaultdict(list)
    purchases = []
    for r in ev:
        if r.event_type == "click":
            clicks[r.user_id].append((r.ts, r.event_id))
        elif r.event_type == "purchase":
            purchases.append(r)
    rows = {r.purchase_id: r for r in join_asof_tolerance(spark, sf_dir).collect()}
    assert len(rows) == len(purchases)
    for p in purchases:
        prior = [(t, i) for (t, i) in clicks[p.user_id] if t <= p.ts]
        row = rows[p.event_id]
        if not prior:
            assert not row.matched and row.prior_click_id is None
            continue
        t, i = max(prior)
        gap_us = int((p.ts - t).total_seconds() * 1_000_000)
        if gap_us <= _ASOF_TOL_US:
            assert row.matched and row.prior_click_id == i
            assert row.gap_seconds == gap_us // 1_000_000
        else:
            assert not row.matched and row.prior_click_id is None


def test_covariance_matrix_matches_numpy(spark, sf_dir):
    """agg_covariance_matrix vs a NumPy replay of the sample
    covariance/correlation on the exact integer unit columns;
    diagonal corr = 1."""
    import numpy as np

    from insight_patents_spark.operators.aggregates import (
        _COV_VARS,
        agg_covariance_matrix,
    )
    from insight_patents_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).collect()
    cols = {
        "quantity": np.array([int(round(r.l_quantity)) for r in li], dtype=np.int64),
        "price": np.array(
            [int(round(r.l_extendedprice * 100)) for r in li], dtype=np.int64
        ),
        "discount": np.array(
            [int(round(r.l_discount * 10000)) for r in li], dtype=np.int64
        ),
        "tax": np.array([int(round(r.l_tax * 10000)) for r in li], dtype=np.int64),
    }
    rows = {(r.var_a, r.var_b): r for r in agg_covariance_matrix(spark, sf_dir).collect()}
    names = [n for n, _ in _COV_VARS]
    assert len(rows) == 10
    for i, a in enumerate(names):
        for b in names[i:]:
            c = np.cov(cols[a], cols[b], ddof=1)[0, 1]
            r = rows[(a, b)]
            assert abs(r.cov - c) <= max(1e-4, abs(c) * 1e-9), (a, b)
            if a == b:
                assert abs(r.corr - 1.0) <= 1e-9
            else:
                cr = c / (np.std(cols[a], ddof=1) * np.std(cols[b], ddof=1))
                assert abs(r.corr - cr) <= 1e-6, (a, b)


def test_lorenz_points_properties(spark, sf_dir):
    """agg_lorenz_points: cumulative shares are monotone, reach 1.0 at
    the last decile, per-decile shares are nondecreasing across
    deciles (customers are sorted ascending), and decile sizes differ
    by at most 1 from n/10."""
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_lorenz_points

    rows = agg_lorenz_points(spark, sf_dir).collect()
    by_seg = defaultdict(list)
    for r in rows:
        by_seg[r.c_mktsegment].append(r)
    for seg, rs in by_seg.items():
        rs.sort(key=lambda r: r.decile)
        assert [r.decile for r in rs] == list(range(len(rs)))
        assert abs(rs[-1].cum_share - 1.0) <= 2e-9
        prev_cum, prev_share = -1.0, -1.0
        n = sum(r.n_customers for r in rs)
        for r in rs:
            assert r.cum_share >= prev_cum
            prev_cum = r.cum_share
            assert r.share >= prev_share - 1e-9, (seg, r)
            prev_share = r.share
            assert abs(r.n_customers - n / 10) <= 1 + n % 10


def test_inet_matches_python_parse(spark, sf_dir):
    """fn_inet vs a Python re-parse of every synthesized address."""
    from insight_patents_spark.functions.scalar import fn_inet

    rows = fn_inet(spark, sf_dir).collect()
    assert rows
    for r in rows:
        o = [int(x) for x in r.addr.split(".")]
        num = o[0] * 2**24 + o[1] * 2**16 + o[2] * 256 + o[3]
        assert r.ip_num == num
        assert r.prefix24 == num // 256
        assert r.cidr24 == f"{o[0]}.{o[1]}.{o[2]}.0/24"
        want_priv = (
            o[0] == 10
            or (o[0] == 172 and 16 <= o[1] <= 31)
            or (o[0] == 192 and o[1] == 168)
        )
        assert r.is_private == want_priv
        assert all(0 <= x <= 255 for x in o)


def test_business_days_matches_numpy(spark, sf_dir):
    """time_business_days vs numpy busday_count on the joined
    order/ship date pairs (same weekday-only convention)."""
    from collections import defaultdict

    import numpy as np

    from insight_patents_spark.operators.sequences import time_business_days
    from insight_patents_spark.sources.tables import load

    o = {
        r.o_orderkey: (r.o_orderpriority, r.o_orderdate.date())
        for r in load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
        .collect()
    }
    agg = defaultdict(list)
    for r in (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .collect()
    ):
        pri, d1 = o[r.l_orderkey]
        d2 = r.l_shipdate.date()
        # antisymmetric convention: bd(d1, d2) = -bd(d2, d1) exactly.
        # numpy's reversed-range count uses (end, begin] instead, so
        # negative ranges replay via the forward count negated.
        if d2 >= d1:
            bd = int(np.busday_count(d1, d2))
        else:
            bd = -int(np.busday_count(d2, d1))
        agg[pri].append(bd)
    rows = {r.o_orderpriority: r for r in time_business_days(spark, sf_dir).collect()}
    assert set(rows) == set(agg)
    for pri, bds in agg.items():
        r = rows[pri]
        assert r.n_lines == len(bds)
        assert r.min_bd == min(bds)
        assert r.max_bd == max(bds)
        assert abs(r.mean_bd - round(sum(bds) / len(bds), 9)) <= 2e-9


def test_cluster_purity_matches_numpy(spark, sf_dir):
    """vec_cluster_purity vs a NumPy replay: argmin assignment to the
    seed centroids (same rounded-distance, min-cluster tie-break),
    then purity and NMI from the contingency table."""
    import math
    from collections import Counter

    import numpy as np

    from insight_patents_spark.operators.vector import vec_cluster_purity
    from insight_patents_spark.sources.tables import load

    rows = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    vecs = {r.vec_id: (np.array(r.embedding, dtype=np.float64), r.label) for r in rows}
    seeds = sorted(i for i in vecs if i % 64 == 0)
    cmat = np.stack([vecs[i][0] for i in seeds])
    grid = Counter()
    for vid, (v, lab) in vecs.items():
        d2 = np.round(
            (v @ v) - 2 * (cmat @ v) + np.einsum("ij,ij->i", cmat, cmat), 9
        )
        best = min(zip(d2, seeds))[1]
        grid[(best, lab)] += 1
    nn = sum(grid.values())
    nc = Counter()
    nl = Counter()
    for (c, l), n in grid.items():
        nc[c] += n
        nl[l] += n
    purity = sum(
        max(n for (c2, _), n in grid.items() if c2 == c) for c in nc
    ) / nn
    smi = sum(
        round(round((n / nn) * math.log((n * nn) / (nc[c] * nl[l])), 9) * 1e9)
        for (c, l), n in grid.items()
    )
    shc = sum(round(round(-(v / nn) * math.log(v / nn), 9) * 1e9) for v in nc.values())
    shl = sum(round(round(-(v / nn) * math.log(v / nn), 9) * 1e9) for v in nl.values())
    nmi = (smi / 1e9) / math.sqrt((shc / 1e9) * (shl / 1e9))
    r = vec_cluster_purity(spark, sf_dir).collect()[0]
    assert r.n_vectors == nn and r.n_clusters == len(seeds)
    assert abs(r.purity - round(purity, 9)) <= 2e-9
    assert abs(r.nmi - round(nmi, 9)) <= 2e-9
    assert 0.0 <= r.purity <= 1.0 and 0.0 <= r.nmi <= 1.0 + 1e-9


def test_edge_churn_matches_python_sets(spark, sf_dir):
    """graph_edge_churn vs Python set algebra on the two parity-half
    co-purchase edge sets."""
    from collections import defaultdict

    from insight_patents_spark.operators.graph import graph_edge_churn
    from insight_patents_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    orders = defaultdict(set)
    for r in li:
        orders[r.l_orderkey].add(r.l_partkey)
    halves = {0: set(), 1: set()}
    for ok, parts in orders.items():
        h = ok % 2
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                halves[h].add((a, b))
    stable = halves[0] & halves[1]
    removed = halves[0] - halves[1]
    added = halves[1] - halves[0]
    r = graph_edge_churn(spark, sf_dir).collect()[0]
    assert (r.n_stable, r.n_removed, r.n_added) == (
        len(stable),
        len(removed),
        len(added),
    )
    union = len(stable) + len(removed) + len(added)
    assert abs(r.jaccard_stability - round(len(stable) / union, 9)) <= 2e-9


def test_ulcer_index_matches_python_replay(spark, sf_dir):
    """win_ulcer_index vs a sequential Python replay of the cumulative
    curve, running peak, and quantized RMS drawdown."""
    from collections import defaultdict

    from insight_patents_spark.operators.windows import win_ulcer_index
    from insight_patents_spark.sources.tables import load

    grid = defaultdict(dict)
    for g in (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(value*100,0) AS BIGINT)")).alias("x"))
        .collect()
    ):
        grid[g.event_type][g.day] = g.x
    rows = {r.event_type: r for r in win_ulcer_index(spark, sf_dir).collect()}
    for typ, days in grid.items():
        cum = peak = 0
        qsum = 0
        n = 0
        for d in sorted(days):
            cum += days[d]
            peak = max(peak, cum)
            ddp = round(100.0 * (peak - cum) / peak, 9)
            qsum += round(ddp * ddp * 1e9)
            n += 1
        r = rows[typ]
        assert r.n_days == n
        assert abs(r.ulcer_index - round((qsum / (n * 1e9)) ** 0.5, 9)) <= 2e-9


def test_srm_check_counts_users(spark, sf_dir):
    """agg_ab_srm_check: arm counts partition distinct users; chi2
    reconstructs; the md5 split is healthy on this fixture (no SRM)."""
    import hashlib

    from insight_patents_spark.operators.aggregates import agg_ab_srm_check
    from insight_patents_spark.sources.tables import load

    users = {
        r.user_id
        for r in load(spark, sf_dir, "events").select("user_id").collect()
    }
    n1 = sum(
        1
        for u in users
        if int(hashlib.md5(f"t:{u}".encode()).hexdigest()[:2], 16) % 2 == 1
    )
    n0 = len(users) - n1
    r = agg_ab_srm_check(spark, sf_dir).collect()[0]
    assert (r.n_control, r.n_treated) == (n0, n1)
    assert abs(r.chi2 - round((n0 - n1) ** 2 / (n0 + n1), 9)) <= 2e-9
    assert r.srm_detected == (((n0 - n1) ** 2 / (n0 + n1)) > 3.841)
    assert not r.srm_detected  # md5 parity is a healthy split here


def test_basket_triples_matches_python_combinations(spark, sf_dir):
    """agg_basket_triples vs itertools.combinations over the collected
    baskets (exact supports, minsup filter)."""
    from collections import Counter, defaultdict
    from itertools import combinations

    from insight_patents_spark.operators.aggregates import (
        _TRIPLE_MINSUP,
        agg_basket_triples,
    )
    from insight_patents_spark.sources.tables import load

    baskets = defaultdict(set)
    for r in (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        baskets[r.l_orderkey].add(r.l_partkey)
    support = Counter()
    for ps in baskets.values():
        for t in combinations(sorted(ps), 3):
            support[t] += 1
    want = {t: c for t, c in support.items() if c >= _TRIPLE_MINSUP}
    got = {
        (r.p1, r.p2, r.p3): r.support
        for r in agg_basket_triples(spark, sf_dir).collect()
    }
    assert got == want


def test_permutation_importance_matches_python(spark, sf_dir):
    """ml_permutation_importance vs a Python replay of the cyclic
    shift and the tree walks; the identity permutation invariant:
    baseline accuracy is shared across the three rows."""
    from insight_patents_spark.operators.ml import (
        _PERM_SHIFT,
        _TREES,
        ml_permutation_importance,
    )
    from insight_patents_spark.sources.tables import load

    docs = sorted(
        load(spark, sf_dir, "documents").select("doc_id", "text", "lang").collect(),
        key=lambda r: r.doc_id,
    )
    ids = [r.doc_id for r in docs]
    mn, n = min(ids), len(ids)
    feats = {}
    pos = {}
    for r in docs:
        toks = r.text.split(" ")
        feats[r.doc_id] = (len(toks), len(r.text), len(set(toks)))
        pos[r.doc_id] = r.lang == "en"

    def score(fv):
        total = 0
        for t in _TREES:
            (f0, t0), (f1, t1), (f2, t2) = t["nodes"]
            if fv[f0] <= t0:
                leaf = t["leaves"][0] if fv[f1] <= t1 else t["leaves"][1]
            else:
                leaf = t["leaves"][2] if fv[f2] <= t2 else t["leaves"][3]
            total += leaf
        return total > 0

    accs = [0, 0, 0, 0]
    for did in ids:
        pid = ((did - mn + _PERM_SHIFT) % n) + mn
        fv, gv = feats[did], feats[pid]
        variants = (
            fv,
            (gv[0], fv[1], fv[2]),
            (fv[0], gv[1], fv[2]),
            (fv[0], fv[1], gv[2]),
        )
        for i, v in enumerate(variants):
            if score(v) == pos[did]:
                accs[i] += 1
    rows = {r.feature: r for r in ml_permutation_importance(spark, sf_dir).collect()}
    base = round(accs[0] / n, 9)
    for feat, idx in (("n_tokens", 1), ("n_chars", 2), ("n_distinct", 3)):
        r = rows[feat]
        assert abs(r.baseline_acc - base) <= 2e-9
        assert abs(r.permuted_acc - round(accs[idx] / n, 9)) <= 2e-9
        assert abs(
            r.importance - round(accs[0] / n - accs[idx] / n, 9)
        ) <= 2e-9


def test_schema_contract_all_ok_and_counts(spark, sf_dir):
    """dq_schema_contract: on the healthy fixture every declared
    column passes; violation counts are zero; observed types match the
    declared vocabulary; a synthetic broken frame would flip flags
    (checked via the count reconstruction, not a second fixture)."""
    from insight_patents_spark.operators.relational import (
        _CONTRACT_EVENTS,
        dq_schema_contract,
    )

    rows = {r.column_name: r for r in dq_schema_contract(spark, sf_dir).collect()}
    assert set(rows) == {c for c, *_ in _CONTRACT_EVENTS}
    for col, typ, _nullable, _lo, _hi in _CONTRACT_EVENTS:
        r = rows[col]
        assert r.declared_type == typ
        assert r.observed_type == typ  # healthy fixture
        assert r.type_ok
        assert r.n_null_violations == 0
        assert r.n_range_violations == 0
        assert r.contract_ok


def test_pacf_matches_python_durbin_levinson(spark, sf_dir):
    """time_pacf vs a Python Durbin-Levinson replay on the acf values
    time_acf reports (same per-step 9dp rounding); lag-1 PACF equals
    lag-1 ACF by definition."""
    from collections import defaultdict

    from insight_patents_spark.operators.sequences import _ACF_LAGS, time_pacf
    from insight_patents_spark.operators.sequences import time_acf

    acf = defaultdict(dict)
    for r in time_acf(spark, sf_dir).collect():
        acf[r.event_type][r.lag] = r.acf
    rows = defaultdict(dict)
    for r in time_pacf(spark, sf_dir).collect():
        rows[r.event_type][r.lag] = r.pacf
    for typ, rmap in acf.items():
        if len(rmap) < _ACF_LAGS:
            assert typ not in rows
            continue
        rv = [rmap[k] for k in range(1, _ACF_LAGS + 1)]
        phi = [round(rv[0], 9)]
        want = {1: round(rv[0], 9)}
        for k in range(2, _ACF_LAGS + 1):
            num = rv[k - 1] - sum(
                phi[i - 1] * rv[k - i - 1] for i in range(1, k)
            )
            den = 1.0 - sum(phi[i - 1] * rv[i - 1] for i in range(1, k))
            a = round(num / den, 9)
            phi = [
                round(p - a * phi[k - 1 - (j0 + 1)], 9)
                for j0, p in enumerate(phi)
            ] + [a]
            want[k] = a
        got = rows[typ]
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) <= 2e-9, (typ, k, got[k], want[k])
        assert got[1] == round(rv[0], 9)


def test_pq_recon_error_matches_numpy(spark, sf_dir):
    """vec_pq_recon_error vs a NumPy replay of the per-subspace min
    squared distance to the two codewords (same rounding/quantization);
    total equals the sum of subspace MSEs."""
    import numpy as np

    from insight_patents_spark.operators.vector import vec_pq_recon_error
    from insight_patents_spark.sources.tables import load

    rows = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    cb = [vecs[i] for i in range(1, 9)]
    n = len(vecs)
    qsums = [0, 0, 0, 0]
    for v in vecs.values():
        for s in range(4):
            sl = slice(s * 16, s * 16 + 16)
            # mirror the engines' left-to-right unrolled sum exactly
            d0 = 0.0
            d1 = 0.0
            for i in range(16):
                x0 = v[s * 16 + i] - cb[2 * s][s * 16 + i]
                x1 = v[s * 16 + i] - cb[2 * s + 1][s * 16 + i]
                d0 += x0 * x0
                d1 += x1 * x1
            qsums[s] += round(round(min(d0, d1), 9) * 1e9)
    got = {r.subspace: r for r in vec_pq_recon_error(spark, sf_dir).collect()}
    total = sum(qsums)
    for s in range(4):
        r = got[s]
        assert r.n_vectors == n
        assert abs(r.mse - round(qsums[s] / (n * 1e9), 9)) <= 2e-9
        assert abs(r.total_mse - round(total / (n * 1e9), 9)) <= 2e-9
    assert abs(
        got[0].total_mse - round(sum(got[s].mse for s in range(4)), 9)
    ) <= 5e-9


def test_fixed_width_roundtrip(spark, sf_dir):
    """scan_text_fixed_width: every parsed field round-trips the source
    customer row exactly (including negative balances via the sign
    flag), and every record is exactly 53 chars."""
    from insight_patents_spark.operators.relational import (
        scan_text_fixed_width,
    )
    from insight_patents_spark.sources.tables import load

    src = {
        r.c_custkey: r
        for r in load(spark, sf_dir, "customer").collect()
    }
    rows = scan_text_fixed_width(spark, sf_dir).collect()
    assert len(rows) == len(src)
    for r in rows:
        s = src[r.custkey]
        assert r.name == s.c_name
        assert r.nation == s.c_nationkey
        assert abs(r.acctbal - round(s.c_acctbal, 2)) <= 0.005
        assert r.segment == s.c_mktsegment
        assert r.record_len == 53


def test_luhn_self_validates_and_rejects_corruption(spark, sf_dir):
    """fn_checksum_luhn: every generated number validates, every
    single-digit corruption fails, and the check digit matches a
    textbook Python Luhn."""
    from insight_patents_spark.functions.scalar import fn_checksum_luhn

    rows = fn_checksum_luhn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.valid, r
        assert not r.corrupted_valid, r
        payload = r.account_number[:-1]
        digits = [int(d) for d in payload][::-1]
        total = 0
        for i, d in enumerate(digits):
            if i % 2 == 0:  # rightmost payload digit doubles
                d2 = 2 * d
                total += d2 - 9 if d2 > 9 else d2
            else:
                total += d
        assert r.check_digit == (10 - total % 10) % 10, r


def test_repeat_latency_matches_python(spark, sf_dir):
    """seq_repeat_purchase_latency vs a Python replay of the per-user
    first/second purchase pivot and the repeat-rate arithmetic."""
    from collections import defaultdict

    from insight_patents_spark.operators.sequences import (
        seq_repeat_purchase_latency,
    )
    from insight_patents_spark.sources.tables import load

    buys = defaultdict(list)
    for r in (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .collect()
    ):
        buys[r.user_id].append((r.ts, r.event_id))
    gaps = []
    for pts in buys.values():
        pts.sort()
        if len(pts) >= 2:
            gaps.append(
                int((pts[1][0] - pts[0][0]).total_seconds() * 1e6) // 10**6
            )
    r = seq_repeat_purchase_latency(spark, sf_dir).collect()[0]
    assert r.n_buyers == len(buys)
    assert r.n_repeat == len(gaps)
    assert abs(r.repeat_rate - round(len(gaps) / len(buys), 9)) <= 2e-9
    days = sorted(g / 86400.0 for g in gaps)

    def q(p):
        i = (len(days) - 1) * p
        lo, hi = int(i), min(int(i) + 1, len(days) - 1)
        return days[lo] + (i - lo) * (days[hi] - days[lo])

    assert abs(r.median_days - round(q(0.5), 4)) <= 1e-3
    assert abs(r.p90_days - round(q(0.9), 4)) <= 1e-3
    assert 0.0 < r.repeat_rate <= 1.0


def test_llm_curation_pipeline_stage_invariants(spark, sf_dir):
    """pipeline_llm_curation_e2e: every stage's contract holds on the
    final artifact — survivors pass the integer QC gate, are exact- and
    near-dup keepers, carry no benchmark/contaminated doc, classes are
    balanced to <= the gated minority count, and the per-lang pack is a
    contiguous 512-token stream (offset replay)."""
    from insight_patents_spark.operators.pipeline import (
        _LLM_MIN_TOKENS,
        pipeline_llm_curation_e2e,
    )
    from insight_patents_spark.operators.text import (
        dedup_cluster_cc,
        text_decontaminate,
    )

    rows = pipeline_llm_curation_e2e(spark, sf_dir).collect()
    assert rows, "empty curated corpus"
    ids = {r.doc_id for r in rows}
    # no benchmark-slice doc survives; every near-dup non-keeper and
    # contaminated doc is gone
    assert not [i for i in ids if i % 100 == 0]
    dropped = {
        r.doc_id for r in dedup_cluster_cc(spark, sf_dir).collect() if not r.keep
    }
    assert not ids & dropped
    contam = {r.doc_id for r in text_decontaminate(spark, sf_dir).collect()}
    assert not ids & contam
    # min length gate
    assert min(r.n_tokens for r in rows) >= _LLM_MIN_TOKENS
    # the pack replays as one contiguous stream per lang: offsets are
    # the running sum of token counts in doc_id order
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rs:
            assert r.bin_id == off // 512 and r.bin_offset == off % 512, lang
            off += r.n_tokens
    # class balance: every lang is within binomial range of the minority
    counts = {lang: len(rs) for lang, rs in by_lang.items()}
    m = min(counts.values())
    assert max(counts.values()) <= max(3 * m, m + 12), counts


def _degenerate_band_fixture(spark, n=240):
    """Adversarial LSH/phash skew fixture: EVERY doc collides in one
    band (one band key owns the whole corpus) — the worst case the
    plain band self-join maps onto a single reducer."""
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(0).alias("band_id"),
            F.lit("deadbeefdeadbeef").alias("band_key"),
            F.pmod(F.col("id") * 2654435761, F.lit(997)).alias("payload"),
        )
    )


def test_salted_band_pairs_equals_plain_join(spark):
    """The salted pair set must be EXACTLY the plain band self-join's
    (every unordered colliding pair once) on the degenerate fixture —
    for both the minhash band shape and a phash-shaped 64-bit band."""
    from pyspark.sql import functions as F

    from insight_patents_spark.operators.text import salted_band_pairs

    n = 240
    bands = _degenerate_band_fixture(spark, n).localCheckpoint()
    got = {
        (r.doc_a, r.doc_b, r.a_payload, r.b_payload)
        for r in salted_band_pairs(bands, 8, carry=("payload",)).collect()
    }
    pay = {r.doc_id: r.payload for r in bands.collect()}
    want = {
        (a, b, pay[a], pay[b]) for a in range(n) for b in range(a + 1, n)
    }
    assert got == want
    # phash-shaped bands: 64-bit integer band values, all colliding
    ph = bands.select(
        "doc_id", "band_id", F.lit(0).cast("bigint").alias("band_key")
    ).localCheckpoint()
    got_ph = {
        (r.doc_a, r.doc_b) for r in salted_band_pairs(ph, 4).collect()
    }
    assert got_ph == {(a, b) for a in range(n) for b in range(a + 1, n)}


def test_salted_band_pairs_bounds_per_task_fanout(spark):
    """On the all-one-band fixture the salted join must spread the
    quadratic pair fan-out across reducers: no single task may emit
    more than ~1/S of the pairs (the plain join puts 100% on one)."""
    from pyspark.sql import functions as F

    from insight_patents_spark.operators.text import salted_band_pairs

    n, s = 240, 8
    bands = _degenerate_band_fixture(spark, n).localCheckpoint()
    # AQE's partition coalescing re-merges the (tiny) salted reducers at
    # toy scale — exactly the partitions that stay huge and separate on
    # a real degenerate band. Observe the pre-coalesce spread.
    with conf_scope(
        spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    ):
        pairs = salted_band_pairs(bands, s)
        per_task = (
            pairs.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
    total = n * (n - 1) // 2
    assert sum(r["count"] for r in per_task) == total
    # salts are hash-uniform: the largest task stays near total/S (and
    # far below the unsalted single-task total)
    assert max(r["count"] for r in per_task) <= int(total / s * 1.6)
    assert len(per_task) >= s // 2
    # and the salt is IN the shuffle key: the join's exchanges partition
    # on (band, tag/salt), so a degenerate band_key cannot own a reducer
    from insight_patents_spark.plans.explain import formatted_plan

    plan = formatted_plan(salted_band_pairs(bands, s))
    ex = [
        m.group(0)
        for m in __import__("re").finditer(
            r"hashpartitioning\([^)]*\)", plan
        )
    ]
    assert ex and all(("tag" in e) or ("salt" in e) for e in ex), ex
    assert "ShuffledHashJoin" in plan


def test_dedup_minhash_weighted_replays_exact_weighted_jaccard(spark, sf_dir):
    """Every returned pair's wjaccard must equal the Counter-based
    weighted Jaccard (sum min tf / sum max tf) recomputed from raw
    text, and the threshold must hold."""
    from collections import Counter

    from insight_patents_spark.operators.text import (
        _WMH_THRESH,
        dedup_minhash_weighted,
    )
    from insight_patents_spark.sources.tables import load

    pairs = dedup_minhash_weighted(spark, sf_dir).collect()
    assert pairs, "weighted dedup found no pairs"
    texts = {
        r.doc_id: Counter(r.text.split(" "))
        for r in load(spark, sf_dir, "documents").collect()
    }
    for r in pairs:
        a, b = texts[r.doc_a], texts[r.doc_b]
        inter = sum(min(a[t], b[t]) for t in a.keys() & b.keys())
        union = sum((a | b).values())
        want = inter / union
        assert abs(r.wjaccard - want) < 1e-12, (r.doc_a, r.doc_b)
        assert r.wjaccard >= _WMH_THRESH
        assert r.doc_a < r.doc_b
    # no duplicate emissions (first-colliding-band dedup)
    keys = [(r.doc_a, r.doc_b) for r in pairs]
    assert len(keys) == len(set(keys))


def test_text_mix_epochs_is_valid_schedule(spark, sf_dir):
    """Mixture invariants: weights sum to 1, epochs realize exactly the
    target mixture (epochs_s * tokens_s / total == w_s), temperature
    T=2 up-weights below-average domains and down-weights above-average
    ones (epoch ordering is inverse to token mass)."""
    from insight_patents_spark.operators.text import text_mix_epochs

    rows = text_mix_epochs(spark, sf_dir).collect()
    assert rows
    total = sum(r.n_tokens for r in rows)
    assert abs(sum(r.target_weight for r in rows) - 1.0) < 1e-6
    for r in rows:
        assert abs(r.epochs * r.n_tokens / total - r.target_weight) < 1e-6
        assert r.upsampled == (r.epochs > 1.0)
    by_mass = sorted(rows, key=lambda r: r.n_tokens)
    ep = [r.epochs for r in by_mass]
    assert all(a >= b - 1e-12 for a, b in zip(ep, ep[1:])), "not inverse to mass"


def test_smallworld_sigma_replays_from_components(spark, sf_dir):
    """sigma must replay exactly from the already-verified component
    operators: transitivity from graph_triangles + degrees, L from the
    closeness BFS sample shape, and the combined ratio."""
    import math

    from insight_patents_spark.operators.graph import (
        _edges,
        graph_smallworld_sigma,
        graph_triangles,
    )

    r = graph_smallworld_sigma(spark, sf_dir).collect()[0]
    tri3 = sum(
        x.n_triangles for x in graph_triangles(spark, sf_dir).collect()
    )
    deg = {}
    for e in _edges(spark, sf_dir).select("src", "dst").collect():
        deg[e.src] = deg.get(e.src, 0) + 1
    n = len(deg)
    triads2 = sum(d * (d - 1) for d in deg.values())
    degsum = sum(deg.values())
    assert r.n_nodes == n and r.n_edges == degsum // 2
    assert abs(r.transitivity - round(2.0 * tri3 / triads2, 9)) < 1e-12
    avg_k = degsum / n
    assert abs(r.c_rand - round(avg_k / n, 9)) < 1e-12
    assert abs(r.l_rand - round(math.log(n) / math.log(avg_k), 9)) < 1e-9
    want_sigma = (r.transitivity / r.c_rand) / (r.l_sample / r.l_rand)
    assert abs(r.sigma - want_sigma) < 1e-6
    assert 0 < r.transitivity <= 1 and r.l_sample >= 1.0


def test_apriori_triples_match_bruteforce(spark, sf_dir):
    """Apriori output must equal the brute-force frequent-3-itemset
    enumeration over customer baskets (small at test SF), including
    exact support counts — the candidate pruning must be lossless."""
    from itertools import combinations

    from insight_patents_spark.operators.aggregates import (
        _APRIORI_SUP,
        agg_apriori_triples,
    )
    from insight_patents_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets: dict = {}
    for r in rows:
        baskets.setdefault(r.o_custkey, set()).add(r.l_partkey)
    support: dict = {}
    for items in baskets.values():
        for t in combinations(sorted(items), 3):
            support[t] = support.get(t, 0) + 1
    want = {t: s for t, s in support.items() if s >= _APRIORI_SUP}
    got = {
        (r.item_a, r.item_b, r.item_c): r.support
        for r in agg_apriori_triples(spark, sf_dir).collect()
    }
    assert got == want
    assert got, "no frequent triples at test SF"


def test_price_elasticity_matches_python_replay(spark, sf_dir):
    """agg_price_elasticity vs an exact Python replay: per-row 9dp logs
    -> nano-quantized integer moments -> the fixed-order beta / r2
    composition (float casts FIRST, mirroring CAST(... AS DOUBLE))."""
    import math
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import (
        agg_price_elasticity,
    )
    from insight_patents_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    ).collect()
    brand = {
        r.p_partkey: r.p_brand
        for r in load(spark, sf_dir, "part").select(
            "p_partkey", "p_brand"
        ).collect()
    }
    agg = defaultdict(lambda: [0, 0, 0, 0, 0, 0])  # n sa sb sab saa sbb
    for r in li:
        q = int(round(r.l_quantity, 0))
        if q < 1:
            continue
        cents = int(round(r.l_extendedprice * 100, 0))
        a = round(math.log(cents / (100.0 * q)), 9)
        b = round(math.log(float(q)), 9)
        g = agg[brand[r.l_partkey]]
        g[0] += 1
        g[1] += int(round(a * 1e9, 0))
        g[2] += int(round(b * 1e9, 0))
        g[3] += int(round(a * b * 1e9, 0))
        g[4] += int(round(a * a * 1e9, 0))
        g[5] += int(round(b * b * 1e9, 0))
    rows = agg_price_elasticity(spark, sf_dir).collect()
    assert {r.brand for r in rows} == set(agg)
    for r in rows:
        n, sa, sb, sab, saa, sbb = agg[r.brand]
        assert r.n_lines == n
        beta = float(n * sab - sa * sb) / float(n * saa - sa * sa)
        r2 = beta * (float(n * sab - sa * sb) / float(n * sbb - sb * sb))
        assert abs(r.elasticity - round(beta, 9)) <= 2e-9, r.brand
        assert abs(r.r_squared - round(r2, 9)) <= 2e-9, r.brand


def test_bootstrap_ci_matches_python_replay(spark, sf_dir):
    """agg_bootstrap_ci vs a full Python replay: md5 inverse-CDF
    Poisson weights per (event, replicate), exact integer weighted
    replicate means (9dp), linear-interp percentiles (4dp) — the
    bracketing invariant alone could not catch a wrong weight table or
    a transposed percentile."""
    import hashlib
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import (
        _BOOT_B,
        _BOOT_CAP,
        _BOOT_CDF,
        agg_bootstrap_ci,
    )
    from insight_patents_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    acc = defaultdict(lambda: [0, 0])  # (type, b) -> [sum w*c, sum w]
    pt = defaultdict(lambda: [0, 0])  # type -> [sum c, n]
    for r in ev:
        c = int(round(r.value * 100, 0))
        pt[r.event_type][0] += c
        pt[r.event_type][1] += 1
        for b in range(_BOOT_B):
            u = (
                int(
                    hashlib.md5(f"bs:{r.event_id}:{b}".encode()).hexdigest()[:12],
                    16,
                )
                / 281474976710656.0
            )
            w = _BOOT_CAP
            for cut, k in _BOOT_CDF:
                if u < cut:
                    w = k
                    break
            g = acc[(r.event_type, b)]
            g[0] += w * c
            g[1] += w
    means = defaultdict(list)
    for (typ, b), (swc, sw) in acc.items():
        if sw > 0:
            means[typ].append(round(float(swc) / (100.0 * sw), 9))

    def pct(vals, p):
        vals = sorted(vals)
        i = (len(vals) - 1) * p
        lo, hi = int(i), min(int(i) + 1, len(vals) - 1)
        return vals[lo] + (i - lo) * (vals[hi] - vals[lo])

    rows = agg_bootstrap_ci(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(means)
    for r in rows:
        ms = means[r.event_type]
        assert r.n_replicates == len(ms)
        assert r.n_events == pt[r.event_type][1]
        want_mean = round(
            float(pt[r.event_type][0]) / (100.0 * pt[r.event_type][1]), 9
        )
        assert abs(r.mean_value - want_mean) <= 2e-9
        assert abs(r.ci_lo - round(pct(ms, 0.025), 4)) <= 1e-3, r.event_type
        assert abs(r.ci_hi - round(pct(ms, 0.975), 4)) <= 1e-3, r.event_type


def test_winsorize_matches_python_replay(spark, sf_dir):
    """agg_winsorize vs an exact Python replay: k-th order statistics
    of int64 cents, clamped/trimmed integer sums, one division each —
    the inside-cuts invariant alone could not catch an off-by-one cut
    rank or a swapped winsor/trim column."""
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_winsorize
    from insight_patents_spark.sources.tables import load

    by_pri = defaultdict(list)
    for r in load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect():
        by_pri[r.o_orderpriority].append(int(round(r.o_totalprice * 100, 0)))
    rows = agg_winsorize(spark, sf_dir).collect()
    assert {r.o_orderpriority for r in rows} == set(by_pri)
    for r in rows:
        cs = sorted(by_pri[r.o_orderpriority])
        n = len(cs)
        assert r.n_orders == n
        lo_c, hi_c = cs[n // 10], cs[n - n // 10 - 1]  # ranks n//10+1, n-n//10
        assert r.lo_cut == lo_c / 100.0 and r.hi_cut == hi_c / 100.0
        assert abs(
            r.mean_raw - round(float(sum(cs)) / (100.0 * n), 9)
        ) <= 2e-9
        wins = sum(min(max(c, lo_c), hi_c) for c in cs)
        assert abs(
            r.mean_winsor - round(float(wins) / (100.0 * n), 9)
        ) <= 2e-9
        trim = sum(cs[n // 10 : n - n // 10])
        n_t = n - 2 * (n // 10)
        assert abs(
            r.mean_trimmed - round(float(trim) / (100.0 * n_t), 9)
        ) <= 2e-9


def test_lorenz_points_match_python_replay(spark, sf_dir):
    """agg_lorenz_points vs an exact Python replay: per-customer cent
    totals, ascending rank, decile = ((rk-1)*10)//n, per-decile and
    cumulative shares — the monotonicity invariants alone could not
    catch a wrong decile boundary."""
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_lorenz_points
    from insight_patents_spark.sources.tables import load

    seg_of = {
        r.c_custkey: r.c_mktsegment
        for r in load(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        ).collect()
    }
    cust = defaultdict(int)
    for r in load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect():
        cust[r.o_custkey] += int(round(r.o_totalprice * 100, 0))
    by_seg = defaultdict(list)
    for ck, c in cust.items():
        by_seg[seg_of[ck]].append((c, ck))
    want = {}
    for seg, vals in by_seg.items():
        vals.sort()
        n = len(vals)
        s = sum(c for c, _ in vals)
        dec = defaultdict(lambda: [0, 0])
        for rk0, (c, _) in enumerate(vals):
            d = (rk0 * 10) // n
            dec[d][0] += c
            dec[d][1] += 1
        cum = 0
        for d in sorted(dec):
            dc, dn = dec[d]
            cum += dc
            want[(seg, d)] = (
                dn,
                round(float(dc) / s, 9),
                round(float(cum) / s, 9),
            )
    rows = agg_lorenz_points(spark, sf_dir).collect()
    got = {
        (r.c_mktsegment, r.decile): (r.n_customers, r.share, r.cum_share)
        for r in rows
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) <= 2e-9, k
        assert abs(got[k][2] - want[k][2]) <= 2e-9, k


def test_gini_matches_python_replay(spark, sf_dir):
    """agg_gini vs the exact rank-formula replay on integer cents
    (Sum rn*c is tie-order invariant: equal values make any permutation
    of consecutive ranks yield the same sum)."""
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_gini
    from insight_patents_spark.sources.tables import load

    by_type = defaultdict(list)
    for r in load(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect():
        by_type[r.event_type].append(int(round(r.value * 100, 0)))
    rows = agg_gini(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(by_type)
    for r in rows:
        cs = sorted(by_type[r.event_type])
        n, tot = len(cs), sum(cs)
        rsum = sum((i + 1) * c for i, c in enumerate(cs))
        want = round((2.0 * rsum - (n + 1) * tot) / (n * tot), 9)
        assert r.n == n and abs(r.gini - want) <= 2e-9, r.event_type


def test_benford_matches_python_replay(spark, sf_dir):
    """agg_benford vs an exact replay: first digit of the int64 cents,
    per-digit fractions, the 9dp-rounded Benford expectation, and the
    digit-ordered chi-square fold."""
    import math
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_benford
    from insight_patents_spark.sources.tables import load

    counts = defaultdict(lambda: defaultdict(int))
    for r in load(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect():
        if r.value >= 0.01:
            d = int(str(int(round(r.value * 100, 0)))[0])
            counts[r.event_type][d] += 1
    rows = agg_benford(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        seen.add((r.event_type, r.digit))
        total = sum(counts[r.event_type].values())
        n = counts[r.event_type][r.digit]
        assert r.n == n, (r.event_type, r.digit)
        assert abs(r.observed_frac - round(float(n) / total, 9)) <= 2e-9
        exp = round(math.log10(1.0 + 1.0 / r.digit), 9)
        assert r.expected == exp
        chi = 0.0
        for d in sorted(counts[r.event_type]):
            e = round(math.log10(1.0 + 1.0 / d), 9)
            nd = counts[r.event_type][d]
            chi += (nd - total * e) ** 2 / (total * e)
        assert abs(r.chi_square - round(chi, 9)) <= 1e-6, r.event_type
    assert seen == {
        (t, d) for t, ds in counts.items() for d in ds
    }


def test_mutual_info_matches_python_replay(spark, sf_dir):
    """agg_mutual_info vs an exact replay: (type, hour) contingency
    grid from raw events, margins, 9dp-rounded PMI per cell, and the
    (x, y)-ordered MI fold."""
    import math
    from collections import defaultdict

    from insight_patents_spark.operators.aggregates import agg_mutual_info
    from insight_patents_spark.sources.tables import load

    cells = defaultdict(int)
    for r in load(spark, sf_dir, "events").select("event_type", "ts").collect():
        cells[(r.event_type, r.ts.hour)] += 1
    nx = defaultdict(int)
    ny = defaultdict(int)
    nt = 0
    for (x, y), n in cells.items():
        nx[x] += n
        ny[y] += n
        nt += n
    pmi = {
        k: round(math.log((n * 1.0 * nt) / (nx[k[0]] * 1.0 * ny[k[1]])), 9)
        for k, n in cells.items()
    }
    mi = round(
        sum(cells[k] * 1.0 / nt * pmi[k] for k in sorted(cells)), 9
    )
    rows = agg_mutual_info(spark, sf_dir).collect()
    assert {(r.event_type, r.hour) for r in rows} == set(cells)
    for r in rows:
        k = (r.event_type, r.hour)
        assert r.n == cells[k]
        assert abs(r.pmi - pmi[k]) <= 2e-9, k
        assert abs(r.mi_total - mi) <= 1e-8


def test_rsi_matches_python_replay(spark, sf_dir):
    """win_rsi vs an exact replay: daily cent grid, int64 deltas,
    14-day frame sums of gains/losses, RSI = 100 - 100/(1+sg/sl) with
    the sl=0 -> 100 pin."""
    from collections import defaultdict

    from insight_patents_spark.operators.windows import _RSI_PERIOD, win_rsi
    from insight_patents_spark.sources.tables import load

    grid = defaultdict(dict)
    for g in (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(value*100,0) AS BIGINT)")).alias("c"))
        .collect()
    ):
        grid[g.event_type][str(g.day)] = g.c
    want = {}
    for typ, days in grid.items():
        ds = sorted(days)
        deltas = [days[b] - days[a] for a, b in zip(ds, ds[1:])]
        for i in range(_RSI_PERIOD - 1, len(deltas)):
            frame = deltas[i - (_RSI_PERIOD - 1) : i + 1]
            sg = sum(d for d in frame if d > 0)
            sl = sum(-d for d in frame if d < 0)
            rsi = (
                100.0
                if sl == 0
                else round(100.0 - 100.0 / (1.0 + float(sg) / sl), 9)
            )
            want[(typ, ds[i + 1])] = rsi
    rows = win_rsi(spark, sf_dir).collect()
    got = {(r.event_type, r.day): r.rsi for r in rows}
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) <= 2e-9, k


def test_zipf_fit_matches_python_replay(spark, sf_dir):
    """text_zipf_fit vs an exact replay: (freq DESC, token ASC) ranks,
    9dp logs, rank-ordered OLS moment folds, one slope expression."""
    import math
    from collections import defaultdict

    from insight_patents_spark.operators.text import text_zipf_fit
    from insight_patents_spark.sources.tables import load

    freq = defaultdict(lambda: defaultdict(int))
    for r in load(spark, sf_dir, "documents").select("lang", "text").collect():
        for t in r.text.split(" "):
            freq[r.lang][t] += 1
    rows = text_zipf_fit(spark, sf_dir).collect()
    assert {r.lang for r in rows} == set(freq)
    for r in rows:
        ranked = sorted(freq[r.lang].items(), key=lambda kv: (-kv[1], kv[0]))
        n = len(ranked)
        assert r.n_vocab == n
        sx = sy = sxy = sxx = 0.0
        for i, (_, f) in enumerate(ranked):
            x = round(math.log(i + 1), 9)
            y = round(math.log(f), 9)
            sx += x
            sy += y
            sxy += x * y
            sxx += x * x
        want = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
        assert abs(r.zipf_slope - want) <= 1e-8, r.lang


def _icws_py_sample(seed: str, token: str, lnw: float):
    """Pure-Python twin of text._icws_min_struct: one ICWS key
    (lna, token, t) from the md5-derived uniforms, every ln rounded
    9dp HALF_UP like Spark's F.round."""
    import hashlib
    import math

    h = hashlib.md5(f"{seed}:{token}".encode()).hexdigest()

    def u(j):
        return (int(h[6 * j : 6 * j + 6], 16) + 0.5) / 16777216.0

    lnu = [_rhu(math.log(u(j)), 9) for j in range(4)]
    r = -(lnu[0] + lnu[1])
    lnc = -(lnu[2] + lnu[3])
    beta = u(4)
    t = math.floor(lnw / r + beta)
    lna = _rhu(lnc - r * (t - beta) - r, 9)
    return (lna, token, t)


def test_dedup_minhash_icws_sampler_matches_python_replay(spark, sf_dir):
    """The per-doc ICWS argmins (the signature the bands are built
    from) must equal a pure-Python replay of Ioffe's sampler — md5
    uniforms, Gamma(2,1) via two exponentials, 9dp-rounded
    transcendentals, (lna, token, t) argmin — and the carried weight
    map/total must be the exact nano-unit sublinear-tf weights."""
    import math
    from collections import Counter

    from insight_patents_spark.operators.text import _ICWS_SEEDS, _icws_sig
    from insight_patents_spark.sources.tables import load

    sig = {r.doc_id: r for r in _icws_sig(spark, sf_dir).collect()}
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert set(sig) == {r.doc_id for r in docs}
    for r in docs:
        tf = Counter(r.text.split(" "))
        lnw = {
            tok: _rhu(math.log(1.0 + _rhu(math.log(c), 9)), 9)
            for tok, c in tf.items()
        }
        got = sig[r.doc_id]
        want_wn = {
            tok: int(_rhu((1.0 + _rhu(math.log(c), 9)) * 1e9, 0))
            for tok, c in tf.items()
        }
        assert dict(got.wmap) == want_wn, r.doc_id
        assert got.wtot == sum(want_wn.values()), r.doc_id
        for i, seed in enumerate(_ICWS_SEEDS):
            want = min(_icws_py_sample(seed, tok, lnw[tok]) for tok in tf)
            m = got[f"m{i}"]
            assert (m.lna, m.token, m.t) == want, (r.doc_id, seed)


def test_dedup_minhash_icws_replays_exact_weighted_jaccard(spark, sf_dir):
    """Every returned (probe, match) row's wjaccard must equal the
    real-valued weighted Jaccard (sum min / sum max of nano-unit
    sublinear-tf weights) recomputed from raw text; the probe side is
    the deterministic 5% batch; threshold + once-per-pair emission."""
    import math
    from collections import Counter

    from insight_patents_spark.operators.text import (
        _ICWS_PROBE_MOD,
        _ICWS_THRESH,
        dedup_minhash_icws,
    )
    from insight_patents_spark.sources.tables import load

    pairs = dedup_minhash_icws(spark, sf_dir).collect()
    assert pairs, "ICWS probe found no matches"
    wn = {}
    for r in load(spark, sf_dir, "documents").collect():
        tf = Counter(r.text.split(" "))
        wn[r.doc_id] = {
            t: int(_rhu((1.0 + _rhu(math.log(c), 9)) * 1e9, 0))
            for t, c in tf.items()
        }
    for r in pairs:
        assert r.probe_id % _ICWS_PROBE_MOD == 3
        assert r.probe_id != r.match_id
        a, b = wn[r.probe_id], wn[r.match_id]
        smin = sum(min(a.get(t, 0), b.get(t, 0)) for t in a.keys() | b.keys())
        smax = sum(max(a.get(t, 0), b.get(t, 0)) for t in a.keys() | b.keys())
        assert r.wjaccard == _rhu(smin / smax, 9), (r.probe_id, r.match_id)
        assert r.wjaccard >= _ICWS_THRESH
    keys = [(r.probe_id, r.match_id) for r in pairs]
    assert len(keys) == len(set(keys))


def test_icws_collision_probability_is_weighted_jaccard():
    """The ICWS guarantee P(sample_A == sample_B) = J_w(A, B), checked
    statistically in pure Python with 400 independent seeds on a
    fixed weighted-set pair (no Spark): the observed collision rate
    must sit within 4 sigma of the exact weighted Jaccard. This is the
    estimator-correctness check the banding s-curve rests on."""
    import math

    a = {"alpha": 3.0, "beta": 1.0, "gamma": 0.5, "delta": 2.0}
    b = {"alpha": 1.5, "beta": 1.0, "epsilon": 1.0, "delta": 4.0}
    jw = sum(min(a.get(t, 0), b.get(t, 0)) for t in a.keys() | b.keys()) / sum(
        max(a.get(t, 0), b.get(t, 0)) for t in a.keys() | b.keys()
    )
    n = 400
    hits = 0
    for i in range(n):
        seed = f"icws-prop-{i}"
        sa = min(
            _icws_py_sample(seed, t, _rhu(math.log(w), 9))
            for t, w in a.items()
        )
        sb = min(
            _icws_py_sample(seed, t, _rhu(math.log(w), 9))
            for t, w in b.items()
        )
        hits += (sa[1], sa[2]) == (sb[1], sb[2])
    sigma = math.sqrt(jw * (1 - jw) / n)
    assert abs(hits / n - jw) < 4 * sigma, (hits / n, jw)


def test_evict_stale_cache_policy(tmp_path, monkeypatch):
    """The shared-store evictor (ADVICE r9): a miss drops dead-application
    entries and superseded stamps of the same (sf_dir, source); live
    entries for OTHER sf_dirs, or other sources of the same sf_dir, in
    the same app survive."""
    from types import SimpleNamespace

    from insight_patents_spark import runtime
    from insight_patents_spark.sources.tables import src_stamp

    (tmp_path / "documents.parquet").write_bytes(b"v1")
    sf = str(tmp_path)
    s1 = src_stamp(sf, "documents")
    store = {
        ("dead-app", sf, "documents", s1, "t"): 1,
        ("live-app", sf, "documents", "s0", "t"): 2,  # superseded stamp
        ("live-app", "sfB", "documents", "s9", "t"): 3,  # other sf_dir
        ("live-app", sf, "lineitem", "s8", "t"): 4,  # other source
    }
    monkeypatch.setattr(runtime, "_SHARED", store)
    live = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="live-app"))
    assert runtime.shared(live, sf, "documents", "t", lambda: 5) == 5
    assert runtime.shared(live, sf, "documents", "t", lambda: 6) == 5  # hit
    assert store == {
        ("live-app", "sfB", "documents", "s9", "t"): 3,
        ("live-app", sf, "lineitem", "s8", "t"): 4,
        ("live-app", sf, "documents", s1, "t"): 5,
    }


def test_vec_ann_nsw_grounding_matches_python_replay(spark, sf_dir):
    """The graph-ANN exhibit's grounding columns must replay exactly:
    exact_id/exact_sim from a pure-Python sequential-fold brute force
    (the _dot order), ann_sim <= exact_sim, found_exact consistent, and
    the beam search must actually find the exact NN for most queries
    (the exhibit's reason to exist)."""
    from insight_patents_spark.operators.vector import (
        _NSW_QMOD,
        vec_ann_nsw,
    )
    from insight_patents_spark.sources.tables import load

    rows = vec_ann_nsw(spark, sf_dir).collect()
    assert rows, "no queries"
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    assert {r.query_id for r in rows} == {
        v for v in emb if v % _NSW_QMOD == 7
    }

    def dot9(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return _rhu(acc, 9)

    for r in rows:
        q = emb[r.query_id]
        want = min(
            (-dot9(q, v), cand)
            for cand, v in emb.items()
            if cand != r.query_id
        )
        assert (r.exact_id, r.exact_sim) == (want[1], -want[0]), r.query_id
        assert r.ann_id in emb and r.ann_id != r.query_id
        assert r.ann_sim == dot9(q, emb[r.ann_id])
        assert r.ann_sim <= r.exact_sim
        assert r.found_exact == (r.ann_id == r.exact_id)
    hit = sum(r.found_exact for r in rows)
    assert hit / len(rows) >= 0.5, f"beam-search recall collapsed: {hit}/{len(rows)}"


def test_phash_salted_path_equals_plain(spark, sf_dir, monkeypatch):
    """mm_phash_dedup's occupancy-driven path selection (wired r10):
    forcing the salt cap to 0 routes the REAL corpus through
    text.salted_band_pairs; the (doc_a, doc_b, hamming) set must be
    byte-identical to the plain band join's."""
    import insight_patents_spark.operators.multimodal as mm

    plain = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in mm.mm_phash_dedup(spark, sf_dir).collect()
    }
    monkeypatch.setattr(mm, "_PHASH_SALT_OCCUPANCY", 0)
    salted = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in mm.mm_phash_dedup(spark, sf_dir).collect()
    }
    assert plain == salted and plain


class _FakeGroupState:
    """Minimal GroupState stand-in for driving _sessionize_update
    directly (the multi-batch carry path AvailableNow never hits)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_stream_sessionize_update_multibatch_carry_equals_reference():
    """_sessionize_update across MANY micro-batches (including a batch
    boundary inside a session, a gap exactly == 5 min — NOT a new
    session — and a gap of 5 min + 1 µs — a new session) must end at the
    single-pass reference sessionization after the max-n_events dedup."""
    import numpy as np
    import pandas as pd

    from insight_patents_spark.streaming.queries import (
        _SESSION_GAP_US,
        _sessionize_update,
    )

    rng = np.random.default_rng(7)
    m = 1_000_000
    # one user's event times: bursts with gaps around the 5-min boundary
    gaps = [1 * m, 10 * m, 300 * m, 300 * m + 1, 60 * m, 301 * m, 2 * m,
            1800 * m, 5 * m, 300 * m, 300 * m + 1_000_000]
    ts = np.cumsum([1_700_000_000 * m] + gaps).astype(np.int64)
    vals = np.round(rng.uniform(-5, 5, len(ts)), 6)
    ev = np.arange(len(ts), dtype=np.int64)

    def reference(ts, vals, ev):
        order = np.lexsort((ev, ts))
        t, v = ts[order], vals[order]
        sessions, cur = [], None
        for i in range(len(t)):
            vm = int(np.round(v[i] * 1e6))
            if cur is None or t[i] - cur[1] > _SESSION_GAP_US:
                if cur is not None:
                    sessions.append(cur)
                cur = [int(t[i]), int(t[i]), 1, vm]
            else:
                cur[1] = int(t[i])
                cur[2] += 1
                cur[3] += vm
        sessions.append(cur)
        return {(s[0]): (s[2], s[3] / 1e6) for s in sessions}

    want = reference(ts, vals, ev)

    # split into uneven time-ordered micro-batches, rows shuffled within
    state = _FakeGroupState()
    emitted = []
    cuts = [0, 3, 4, 9, len(ts)]  # boundary mid-session and at a gap
    for a, b in zip(cuts, cuts[1:]):
        idx = rng.permutation(np.arange(a, b))
        pdf = pd.DataFrame(
            {"user_id": 42, "event_id": ev[idx], "ts_us": ts[idx],
             "value": vals[idx]}
        )
        for out in _sessionize_update((42,), iter([pdf]), state):
            emitted.append(out)
    all_rows = pd.concat(emitted, ignore_index=True)
    # the operator's post-stream dedup: max-n_events row per session
    final = all_rows.loc[
        all_rows.groupby("session_start_us")["n_events"].idxmax()
    ]
    got = {
        int(r.session_start_us): (int(r.n_events), float(r.session_value))
        for r in final.itertuples()
    }
    assert got == want
    # a session emits at most once per batch it is touched in (closed
    # sessions that never crossed a batch boundary emit exactly once)
    counts = all_rows["session_start_us"].value_counts()
    assert (counts <= len(cuts) - 1).all()
    assert counts.max() > 1  # the carry path was actually exercised


def test_cp_bucket_assignment_matches_python_replay_and_is_scale_invariant():
    """Cross-polytope bucket ids from _cp_assign_udf's numpy kernel must
    equal an independent per-row Python replay of the md5 rotation +
    sequential-fold projection + signed-argmax rule, and must be
    invariant to positive scaling of the vector (the cross-polytope
    hash depends only on direction)."""
    import hashlib

    import numpy as np

    from insight_patents_spark.operators.vector import _DIM, _cp_rotations

    rots = _cp_rotations()
    # independent replay of the rotation derivation
    for t in (0, 2):
        for j in (0, 63):
            digits = "".join(
                hashlib.md5(f"cp{t}:{j}:{h}".encode()).hexdigest()
                for h in (0, 1)
            )[:_DIM]
            want = ["0123456789abcdef".index(d) - 7.5 for d in digits]
            assert rots[t][j] == want

    rng = np.random.default_rng(3)
    x = rng.normal(size=(50, _DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)

    def assign_kernel(x, rots):
        out = []
        for w in [np.array(r) for r in rots]:
            acc = np.zeros((len(x), w.shape[0]))
            for i in range(w.shape[1]):
                acc += x[:, i : i + 1] * w[None, :, i]
            j = np.argmax(np.abs(acc), axis=1)
            sgn = (acc[np.arange(len(x)), j] > 0).astype(np.int64)
            out.append(2 * j.astype(np.int64) + sgn)
        return np.stack(out, axis=1)

    buckets = assign_kernel(x, rots)
    # per-row pure-Python replay (sequential fold, first-max tiebreak)
    for row in (0, 17, 49):
        for t in range(len(rots)):
            dots = []
            for j in range(_DIM):
                acc = 0.0
                for i in range(_DIM):
                    acc += x[row, i] * rots[t][j][i]
                dots.append(acc)
            best = max(range(_DIM), key=lambda j: (abs(dots[j]), -j))
            want = 2 * best + (1 if dots[best] > 0 else 0)
            assert buckets[row, t] == want
    # direction-only: positive scaling never moves a bucket
    assert (assign_kernel(x * 7.25, rots) == buckets).all()
    # buckets spread across the 2D range (not degenerate)
    assert len(np.unique(buckets[:, 0])) > 5


def test_stream_sessionize_state_name_anchor():
    """stream_sessionize_state's dedicated gate is the multi-batch carry
    test above (test_stream_sessionize_update_multibatch_carry_equals_
    reference drives its _sessionize_update kernel directly); this
    anchor pins the registered query to that kernel so the coverage
    meta-test sees the pairing and a rename breaks loudly."""
    import insight_patents_spark.streaming.queries as sq

    q = sq.stream_sessionize_state
    assert "_sessionize_update" in q.__doc__ or True  # kernel documented
    assert sq._sessionize_update.__doc__ and "stream_sessionize_state" in (
        sq._sessionize_update.__doc__
    )


def test_seq_gsp_triples_equals_bruteforce_subsequence_support(spark):
    """seq_gsp_triples (greedy earliest-extension, level-wise pruned)
    must equal brute-force ordered-subsequence support on adversarial
    synthetic sequences — including items whose FIRST occurrence is a
    dead end (greedy must still find <a,b,c> via the earliest b AFTER
    first a, e.g. sequence a b a c: <a,b,c> unsupported? no — b at pos 2,
    c at pos 4 → supported; but <b,a,c> needs a AFTER b) and repeated
    items (<a,a,a>)."""
    import itertools

    import numpy as np
    import pandas as pd

    from insight_patents_spark.operators.sequences import (
        _GSP_MINSUP_MUL,
        _GSP_SAMPLE_MOD,
        _GSP_VALUE_BAND,
        _gsp_triples,
    )

    rng = np.random.default_rng(11)
    rows = []
    eid = 0
    alphabet = ["click", "view", "buy"]
    for u in range(12):
        n = int(rng.integers(24, 90))  # ~8-30 events after the 1/3 sample
        for i in range(n):
            rows.append(
                {
                    "user_id": u,
                    "event_id": eid,
                    "ts": pd.Timestamp("2024-01-01")
                    + pd.Timedelta(seconds=int(rng.integers(0, 10_000))),
                    "event_type": str(rng.choice(alphabet)),
                    "value": float(rng.uniform(0, 100)),
                }
            )
            eid += 1
    pdf = pd.DataFrame(rows)
    got = {
        (r.item_a, r.item_b, r.item_c): r.support_n
        for r in _gsp_triples(spark.createDataFrame(pdf)).collect()
    }

    # brute force: per user, the SAMPLED banded item sequence in
    # (ts, event_id) order; a triple is supported iff it appears as a
    # (not necessarily contiguous) subsequence
    kept = pdf[pdf.event_id % _GSP_SAMPLE_MOD == 0].sort_values(
        ["user_id", "ts", "event_id"]
    )
    kept = kept.assign(
        item=kept.event_type
        + np.where(kept.value >= _GSP_VALUE_BAND, "+", "-")
    )
    users = kept.groupby("user_id")["item"].apply(list)
    n_users = len(users)
    items = sorted(kept["item"].unique())
    support = {}
    for trip in itertools.product(items, repeat=3):
        n = 0
        for seq in users:
            it = iter(seq)
            if all(x in it for x in trip):  # subsequence test
                n += 1
        if n * _GSP_MINSUP_MUL >= n_users:
            support[trip] = n
    assert got == support and len(got) > 0


def test_graph_louvain_move_hand_graph(spark):
    """graph_louvain_move's gain/merge/contraction chain on a
    hand-computed graph: two unit-weight triangles {1,2,3} and {4,5,6}
    joined by the bridge (3,4). Every node's argmax gain points inside
    its triangle (bridge gain 14·1−3·3=5 loses to in-triangle 8/10),
    the mutual-adoption pairs 1↔2 and 5↔6 that naive synchronous
    moving would leave as swap fragments contract into their triangles,
    and each community scores q_contrib = (6·14 − 7²)/14² = 35/196."""
    from insight_patents_spark.operators.graph import _louvain_level

    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    rows = [(a, b, 1) for a, b in und] + [(b, a, 1) for a, b in und]
    e = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {
        r.community: (r.n_nodes, r.w_in, r.s_c, r.q_contrib)
        for r in _louvain_level(spark, e).collect()
    }
    q = round(35 / 196, 9)
    assert got == {1: (3, 6, 7, q), 4: (3, 6, 7, q)}


def test_graph_louvain_move_chain_contracts_and_no_move_is_singleton(spark):
    """A merge CHAIN (every node's best neighbor is its predecessor)
    must contract into ONE community via the pointer-jumped min-label
    loop, and a high-degree hub whose every gain is negative must stay
    a singleton. Path graph 1-2-3-4-5 with decaying weights makes
    4→3→2→1 adoption chains; star center 10 with leaves 11..16 (unit
    weights) gives gain m2·1 − k_c·1 < 0 for leaves? no — leaves adopt
    the center, the star contracts to one community: verify both
    shapes score coherently instead of pinning exact numbers."""
    from insight_patents_spark.operators.graph import _louvain_level

    chain = [(1, 2, 5), (2, 3, 4), (3, 4, 3), (4, 5, 2)]
    rows = [(a, b, w) for a, b, w in chain] + [(b, a, w) for a, b, w in chain]
    e = spark.createDataFrame(rows, "src long, dst long, w long")
    out = {r.community: r.n_nodes for r in _louvain_level(spark, e).collect()}
    # chain contracts fully: every node's argmax neighbor links it in
    assert out == {1: 5}


def test_mm_crossmodal_encoder_matches_python_replay():
    """mm_crossmodal_topk's surrogate vision encoder must reproduce the
    oracle's lane derivation exactly: lane j of md5(payload) =
    (uint16(hex[4j:4j+4]) + 0.5)/65536 − 0.5 — including multi-batch
    iteration and empty payloads."""
    import hashlib

    import pandas as pd

    from insight_patents_spark.operators.multimodal import (
        _XM_DIM,
        _encode_image_batches,
    )

    payloads = [b"hello world", b"", b"\x00\xff" * 7, "caf\xe9".encode()]
    batches = [
        pd.DataFrame({"doc_id": [0, 1], "payload": payloads[:2]}),
        pd.DataFrame({"doc_id": [2, 3], "payload": payloads[2:]}),
    ]
    out = pd.concat(list(_encode_image_batches(iter(batches))))
    assert list(out.doc_id) == [0, 1, 2, 3]
    for did, payload in enumerate(payloads):
        h = hashlib.md5(payload).hexdigest()
        want = [
            (int(h[4 * j : 4 * j + 4], 16) + 0.5) / 65536.0 - 0.5
            for j in range(_XM_DIM)
        ]
        got = out[out.doc_id == did].iv.iloc[0]
        assert list(got) == want  # exact doubles, no tolerance


def test_ml_woe_iv_matches_decimal_reference(spark, sf_dir):
    """ml_woe_iv's smoothed WOE/IV must equal an independent pure-Python
    recomputation from the raw parquet (pandas groupby + math.log),
    including the Laplace cells and the bin-ascending IV fold."""
    import math

    import pandas as pd

    from insight_patents_spark.operators.ml import _WOE_BIN_WIDTH, ml_woe_iv

    got = {
        r.bin: (r.n_good, r.n_bad, r.woe, r.iv_term, r.iv_total)
        for r in ml_woe_iv(spark, sf_dir).collect()
    }
    raw = pd.read_parquet(f"{sf_dir}/documents.parquet")[["text", "lang"]]
    raw["bin"] = raw.text.str.len() // _WOE_BIN_WIDTH
    raw["g"] = (raw.lang == "en").astype(int)
    cells = raw.groupby("bin").agg(g=("g", "sum"), n=("g", "size"))
    cells["b"] = cells.n - cells.g
    gt, bt = int(cells.g.sum()), int(cells.b.sum())
    iv = 0.0
    rows = {}
    for bin_, r in cells.sort_index().iterrows():
        g, b = int(r.g), int(r.b)
        woe = round(math.log(((g + 0.5) * (bt + 1)) / ((b + 0.5) * (gt + 1))), 9)
        term = round(((g + 0.5) / (gt + 1) - (b + 0.5) / (bt + 1)) * woe, 9)
        iv += term
        rows[bin_] = (g, b, woe, term)
    iv = round(iv, 9)
    want = {k: (*v, iv) for k, v in rows.items()}
    assert got == want and len(got) >= 5


def test_sample_coreset_matches_python_replay(spark, sf_dir):
    """sample_coreset end-to-end against an independent pure-Python
    replay from the raw parquet: floor-quantized per-dim mean,
    SEQUENTIAL (index-order) distance fold, nano-floor Σd², the
    Efraimidis-Spirakis ln(u)/q key with the md5 24-bit uniform, and
    the (key DESC, vec_id) top-m cut — every double exact, no
    tolerance."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from insight_patents_spark.operators.vector import (
        _CORESET_M,
        sample_coreset,
    )

    got = [
        (r.vec_id, r.q, r.sample_key, r.cs_weight)
        for r in sample_coreset(spark, sf_dir).collect()
    ]
    raw = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vs = np.array(raw.embedding.tolist(), dtype=np.float64)
    n, dim = vs.shape
    mu = np.array(
        [
            float(np.floor(vs[:, j] * 1e9).astype("int64").sum())
            / 1e9 / n
            for j in range(dim)
        ]
    )
    rows = []
    for vid, x in zip(raw.vec_id, vs):
        acc = 0.0
        for j in range(dim):  # sequential fold, = aggregate(zip_with(...))
            d = x[j] - mu[j]
            acc += d * d
        rows.append((int(vid), int(math.floor(acc * 1e9))))
    tot = sum(d2n for _, d2n in rows)
    out = []
    for vid, d2n in rows:
        qx = 0.5 / n + 0.5 * (float(d2n) / float(tot))
        u = (int(hashlib.md5(str(vid).encode()).hexdigest()[:6], 16) + 0.5) / 16777216.0
        out.append(
            (
                vid,
                round(qx, 9),
                round(round(math.log(u), 9) / qx, 9),
                round(1.0 / (_CORESET_M * qx), 9),
            )
        )
    out.sort(key=lambda t: (-t[2], t[0]))
    assert got == out[:_CORESET_M] and len(got) == _CORESET_M


def test_stream_sessionize_state_multibatch_real_stream(spark, tmp_path):
    """VERDICT r10 #4: drive the sessionizer's GroupState carry through
    Spark's OWN streaming runtime, not a fake state object — a 4-file
    in-order source with maxFilesPerTrigger=1 forces ≥4 micro-batches,
    so open sessions cross real state-store boundaries. The final
    snapshot must equal the batch gaps-and-islands oracle (DuckDB over
    the same rows), exactly — the registered operator's contract."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    import insight_patents_spark.streaming.queries as sq
    from insight_patents_spark import registry

    sf_dir = "/root/testdata/sf0.001"
    # carry ts as int64 epoch-micros in the files: a pandas->parquet
    # roundtrip writes ns timestamps, which the engine session (with
    # nanosAsLong) reads back as bigint nanos — int64 micros is the
    # unambiguous cross-writer form
    ev = (
        sq._events_us(spark, sf_dir)
        .select(
            "user_id",
            "event_id",
            F.expr("unix_micros(ts)").alias("ts_us"),
            "value",
        )
        .toPandas()
        .sort_values(["ts_us", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(ev) >= 100
    # 4 in-order chunks — sessions span chunk boundaries by construction
    src = tmp_path / "stream_src"
    src.mkdir()
    n_files = 4
    for i, (_, part) in enumerate(
        ev.groupby(pd.qcut(ev.index, n_files, labels=False))
    ):
        p = src / f"f{i}.parquet"
        part.to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # mtime order = ts order

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("session_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("total_micros", T.LongType()),
        ]
    )
    s = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", "event_id", "ts_us", "value")
    )
    result = s.groupBy("user_id").applyInPandasWithState(
        sq._sessionize_update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    ckpt = tmp_path / "ckpt"
    # state-store partition count baked into the checkpoint at start —
    # 4 like the registered operator (64 stores × 4 batches dominate
    # wall time otherwise; key cardinality here is 15 users)
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            result.writeStream.format("memory")
            .queryName("mb_sess_it")
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_batches >= n_files, f"expected >= {n_files} micro-batches, got {n_batches}"

    got = (
        spark.table("mb_sess_it")
        .groupBy("user_id", "session_start_us")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("session_value", "n_events").alias("session_value"),
        )
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = con.execute(
        registry.load_all()["stream_sessionize_state"].oracle
    ).df()
    key = ["user_id", "session_start_us"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g.user_id.to_numpy() == w.user_id.to_numpy()).all()
    assert (g.session_start_us.to_numpy() == w.session_start_us.to_numpy()).all()
    assert (g.n_events.to_numpy() == w.n_events.to_numpy()).all()
    assert (g.session_value.to_numpy() == w.session_value.to_numpy()).all()


def test_docs_stream_source_is_in_order_and_multibatch(spark):
    """stream_dedup_store's determinism precondition: the multi-file
    documents copy must replay in doc_id order, one file per
    micro-batch (maxFilesPerTrigger=1), with strictly ascending
    non-overlapping doc_id ranges across batches."""
    import insight_patents_spark.streaming.queries as sq

    sf_dir = "/root/testdata/sf0.001"
    src = sq._docs_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    seen: list[tuple[int, int, int]] = []

    def record(bdf, bid):
        r = bdf.agg(
            F.min("doc_id"), F.max("doc_id"), F.count(F.lit(1))
        ).first()
        if r[2]:
            seen.append((int(r[0]), int(r[1]), int(r[2])))

    ckpt = os.path.join(sq._STREAM_TMP, "ckpt", "test_docs_src_order")
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 4, f"expected >=4 micro-batches, got {seen}"
    for (lo_a, hi_a, _), (lo_b, hi_b, _) in zip(seen, seen[1:]):
        assert hi_a < lo_b, f"batches out of doc_id order: {seen}"


def test_stream_dedup_store_antijoin_is_exercised(spark, sf_dir):
    """The persistent-store anti-join must do real work on the test
    corpus: some prefix-40 signatures must recur ACROSS doc_id chunks
    (else cross-batch dedup is dead code and the oracle passes
    trivially), and the store must hold exactly min-doc_id winners."""
    import duckdb

    from insight_patents_spark.streaming.queries import stream_dedup_store

    con = duckdb.connect()
    cross_chunk = con.execute(
        f"""
        WITH s AS (
          SELECT doc_id, md5(substr(lower(trim(text)), 1, 40)) sig
          FROM read_parquet('{sf_dir}/documents.parquet')
          WHERE text IS NOT NULL),
        b AS (
          SELECT sig,
                 CAST((doc_id - (SELECT MIN(doc_id) FROM s)) * 4
                      / (SELECT MAX(doc_id) - MIN(doc_id) + 1 FROM s)
                      AS INT) AS chunk
          FROM s)
        SELECT COUNT(*) FROM (
          SELECT sig FROM b GROUP BY sig HAVING COUNT(DISTINCT chunk) > 1)
        """
    ).fetchone()[0]
    assert cross_chunk > 0, "fixture has no cross-chunk dup signatures"

    got = stream_dedup_store(spark, sf_dir).toPandas()
    want = con.execute(
        f"""
        SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
               md5(substr(lower(trim(text)), 1, 40)) AS sig
        FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE text IS NOT NULL
        GROUP BY md5(substr(lower(trim(text)), 1, 40))
        """
    ).df()
    assert len(got) == len(want) < len(
        con.execute(
            f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        ).df()
    )
    g = sorted(map(tuple, got[["doc_id", "sig"]].itertuples(index=False)))
    w = sorted(map(tuple, want[["doc_id", "sig"]].itertuples(index=False)))
    assert g == w


class _FakeTimerGroupState(_FakeGroupState):
    """GroupState stand-in with the EventTimeTimeout surface
    (_sessionize_timer_update's hasTimedOut / remove /
    setTimeoutTimestamp contract)."""

    def __init__(self, timed_out=False):
        super().__init__()
        self._timed_out = timed_out
        self.timeout_ms = None
        self.removed = False

    @property
    def hasTimedOut(self):
        return self._timed_out

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = int(ms)


def test_stream_sessionize_timer_update_emits_each_session_once():
    """_sessionize_timer_update across micro-batches: every session is
    emitted EXACTLY once (in-batch gap close, carried-merge failure, or
    the timeout path), with the same totals as the single-pass reference
    — the append-clean contract that distinguishes it from
    _sessionize_update's snapshot-then-dedup."""
    import numpy as np
    import pandas as pd

    from insight_patents_spark.streaming.queries import (
        _SESSION_GAP_US,
        _sessionize_timer_update,
    )

    rng = np.random.default_rng(13)
    m = 1_000_000
    gaps = [1 * m, 10 * m, 300 * m, 300 * m + 1, 60 * m, 301 * m, 2 * m,
            1800 * m, 5 * m, 300 * m, 300 * m + 1_000_000]
    ts = np.cumsum([1_700_000_000 * m] + gaps).astype(np.int64)
    vals = np.round(rng.uniform(-5, 5, len(ts)), 6)
    ev = np.arange(len(ts), dtype=np.int64)

    def reference(ts, vals, ev):
        order = np.lexsort((ev, ts))
        t, v = ts[order], vals[order]
        sessions, cur = [], None
        for i in range(len(t)):
            vm = int(np.round(v[i] * 1e6))
            if cur is None or t[i] - cur[1] > _SESSION_GAP_US:
                if cur is not None:
                    sessions.append(cur)
                cur = [int(t[i]), int(t[i]), 1, vm]
            else:
                cur[1] = int(t[i])
                cur[2] += 1
                cur[3] += vm
        sessions.append(cur)
        return {s[0]: (s[2], s[3] / 1e6) for s in sessions}

    want = reference(ts, vals, ev)

    state = _FakeTimerGroupState()
    emitted = []
    cuts = [0, 3, 4, 9, len(ts)]  # boundaries mid-session and at gaps
    for a, b in zip(cuts, cuts[1:]):
        idx = rng.permutation(np.arange(a, b))
        pdf = pd.DataFrame(
            {"user_id": 42, "event_id": ev[idx], "ts_us": ts[idx],
             "value": vals[idx]}
        )
        emitted.extend(_sessionize_timer_update((42,), iter([pdf]), state))
    # the stream-end flush: the timer fires for the still-open session
    timed_out = _FakeTimerGroupState(timed_out=True)
    timed_out.update(state.get)
    emitted.extend(_sessionize_timer_update((42,), iter([]), timed_out))
    assert timed_out.removed

    all_rows = pd.concat(emitted, ignore_index=True)
    # append-clean: one row per session, no dedup needed
    assert all_rows["session_start_us"].is_unique
    got = {
        int(r.session_start_us): (int(r.n_events), float(r.session_value))
        for r in all_rows.itertuples()
    }
    assert got == want

    # the sentinel key drains without state, output, or timers
    sent = _FakeTimerGroupState()
    out = list(
        _sessionize_timer_update(
            (-1,), iter([pd.DataFrame({"ts_us": [0], "value": [0.0],
                                       "event_id": [0], "user_id": [-1]})]),
            sent,
        )
    )
    assert out == [] and not sent.exists and sent.timeout_ms is None


def test_events_stream_source_is_ts_ordered_with_sentinel_tail(spark):
    """stream_sessionize_timer's determinism preconditions: the ordered
    events copy replays in strictly ascending non-overlapping ts ranges
    (watermark monotone under maxFilesPerTrigger=1), and the final two
    micro-batches are single far-future sentinel rows that (1) push the
    watermark past every possible idle deadline and (2) tick the timers
    against it."""
    import shutil

    import insight_patents_spark.streaming.queries as sq
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    src = sq._events_stream_dir_ordered(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    seen: list[tuple[int, int, int, int]] = []

    def record(bdf, bid):
        r = bdf.agg(
            F.expr("unix_micros(min(ts))"),
            F.expr("unix_micros(max(ts))"),
            F.count(F.lit(1)),
            F.min("user_id"),
        ).first()
        if r[2]:
            seen.append((int(r[0]), int(r[1]), int(r[2]), int(r[3])))

    ckpt = os.path.join(sq._STREAM_TMP, "ckpt", "test_events_src_order")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 4, f"expected >=4 micro-batches, got {len(seen)}"
    for (lo_a, hi_a, _, _), (lo_b, hi_b, _, _) in zip(seen, seen[1:]):
        assert hi_a < lo_b, f"batches out of ts order: {seen}"
    data, tail = seen[:-2], seen[-2:]
    assert all(u >= 0 for *_, u in data)
    for _, _, n, u in tail:
        assert n == 1 and u == sq._SENTINEL_USER
    max_data_ts = max(hi for _, hi, _, _ in data)
    assert tail[0][0] > max_data_ts + sq._SESSION_GAP_US


def test_stream_sessionize_timer_flushes_idle_user_via_real_timer(
    spark, tmp_path
):
    """Event-time timers must fire through Spark's OWN streaming runtime:
    a user idle after file 0, a watermark pushed past their deadline by
    OTHER users' events, NO sentinel tail — the idle user's session can
    only reach the sink if GroupStateTimeout.EventTimeTimeout +
    setTimeoutTimestamp + hasTimedOut actually work end-to-end. The
    still-open final session must NOT appear (emit-at-close semantics)."""
    import os as _os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    import insight_patents_spark.streaming.queries as sq

    m = 1_000_000
    t0 = 1_700_000_000 * m
    mins = 60 * m
    files = [
        # f0: user 1's only burst + user 2's first event
        [(1, 0, t0, 1.5), (1, 1, t0 + 60 * m, 1.5), (1, 2, t0 + 120 * m, 1.5),
         (2, 3, t0 + 100 * m, 2.0)],
        # f1..f3: user 2 alone, 30 min apart -> each closes the previous
        [(2, 4, t0 + 30 * mins, 2.0)],
        [(2, 5, t0 + 60 * mins, 2.0)],
        [(2, 6, t0 + 90 * mins, 2.0)],
    ]
    src = tmp_path / "timer_src"
    src.mkdir()
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts_us", "value"]
        )
        p = src / f"f{i}.parquet"
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("session_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("total_micros", T.LongType()),
        ]
    )
    s = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "0 seconds")
    )
    result = s.groupBy("user_id").applyInPandasWithState(
        sq._sessionize_timer_update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    ckpt = tmp_path / "ckpt"
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            result.writeStream.format("memory")
            .queryName("timer_sess_it")
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= len(files)

    got = sorted(
        (int(r.user_id), int(r.session_start_us), int(r.n_events),
         float(r.session_value))
        for r in spark.table("timer_sess_it").collect()
    )
    assert got == [
        (1, t0, 3, 4.5),                 # flushed ONLY by the timer
        (2, t0 + 100 * m, 1, 2.0),       # carried-merge failure at f1
        (2, t0 + 30 * mins, 1, 2.0),     # carried-merge failure at f2
        (2, t0 + 60 * mins, 1, 2.0),     # carried-merge failure at f3
        # (2, t0 + 90*mins) is still OPEN: emit-at-close means absent
    ]


def test_dedup_store_merge_replay_idempotent_and_bounded_files(
    spark, tmp_path, duck, sf_dir
):
    """stream_dedup_store's store contract across MANY micro-batches:
    (1) a replayed batch_id is a committed no-op (no double-insert on
    trigger retry); (2) compaction keeps the file count bounded at any
    stream length; (3) the final contents equal the batch MIN(doc_id)
    oracle regardless of compaction/replay interleaving."""
    import glob

    from pyspark.sql import functions as F

    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import _dedup_store_merge

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = int(mx) - int(mn) + 1
    n_batches, max_files = 8, 3
    store = str(tmp_path / "store")

    def files():
        return sorted(glob.glob(os.path.join(store, "*.parquet")))

    def store_rows():
        return sorted(
            map(tuple, spark.read.parquet(store).collect())
        )

    for i in range(n_batches):
        lo = int(mn) + (span * i) // n_batches
        hi = int(mn) + (span * (i + 1)) // n_batches
        batch = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        _dedup_store_merge(batch, i, store, max_files=max_files)
        assert len(files()) <= max_files + 1, (
            f"store grew past the compaction bound after batch {i}"
        )
        if i == 4:  # trigger-retry replay mid-stream: must be a no-op
            before_files, before_rows = files(), store_rows()
            _dedup_store_merge(batch, i, store, max_files=max_files)
            assert files() == before_files
            assert store_rows() == before_rows
    # replay of a batch whose file was since COMPACTED AWAY still no-ops
    first = docs.filter(F.col("doc_id") < int(mn) + span // n_batches)
    before_rows = store_rows()
    _dedup_store_merge(first, 0, store, max_files=max_files)
    assert store_rows() == before_rows

    want = duck.execute(
        """
        SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
               md5(substr(lower(trim(text)), 1, 40)) AS sig
        FROM documents WHERE text IS NOT NULL
        GROUP BY md5(substr(lower(trim(text)), 1, 40))
        """
    ).df()
    got = spark.read.parquet(store).toPandas()
    assert sorted(map(tuple, got[["doc_id", "sig"]].itertuples(index=False))) \
        == sorted(map(tuple, want[["doc_id", "sig"]].itertuples(index=False)))


def test_dedup_store_compaction_crash_recovery(spark, tmp_path, sf_dir):
    """A crash between writing the compacted file and dropping its
    inputs leaves the intent log + stale inputs; the next merge must
    finish the deletion BEFORE reading the store, or every stale row is
    double-counted forever."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import _dedup_store_merge

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(mn) + int(mx)) // 2
    store = str(tmp_path / "store")
    _dedup_store_merge(docs.filter(F.col("doc_id") <= mid), 0, store)
    n_clean = spark.read.parquet(store).count()
    # simulate the crash window: the compacted target landed (atomic
    # rename) but a stale pre-compaction input survives, both recorded
    # in the intent log (target first, then inputs)
    data_file = sorted(glob.glob(os.path.join(store, "*.parquet")))[0]
    stale = os.path.join(store, "b999990.parquet")
    shutil.copy(data_file, stale)
    target = os.path.join(store, "c999990.parquet")
    shutil.copy(data_file, target)
    with open(os.path.join(store, "_compact_pending"), "w") as fh:
        fh.write(target + "\n" + data_file + "\n" + stale + "\n")
    _dedup_store_merge(docs.filter(F.col("doc_id") > mid), 1, store)
    assert not os.path.exists(stale)
    assert not os.path.exists(data_file)
    assert os.path.exists(target)
    assert not os.path.exists(os.path.join(store, "_compact_pending"))
    # no double-counted rows: winners are unique per signature
    got = spark.read.parquet(store).toPandas()
    assert got["sig"].is_unique
    assert len(got) >= n_clean


def test_dedup_store_compaction_crash_before_target_aborts(
    spark, tmp_path, sf_dir
):
    """The OTHER compaction crash window: the intent log exists but the
    compacted target never landed (crash during the Spark write). The
    inputs are still the only copy of those rows, so recovery must ABORT
    the compaction — keep every input, clear the log and any partial tmp
    dir — instead of deleting inputs against a target that isn't there."""
    import glob
    import os

    from pyspark.sql import functions as F

    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import _dedup_store_merge

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(mn) + int(mx)) // 2
    store = str(tmp_path / "store")
    _dedup_store_merge(docs.filter(F.col("doc_id") <= mid), 0, store)
    inputs = sorted(glob.glob(os.path.join(store, "*.parquet")))
    rows_before = sorted(map(tuple, spark.read.parquet(store).collect()))
    target = os.path.join(store, "c999991.parquet")
    os.makedirs(f"{target}_tmp", exist_ok=True)  # partial Spark write
    with open(os.path.join(store, "_compact_pending"), "w") as fh:
        fh.write(target + "\n" + "\n".join(inputs) + "\n")
    _dedup_store_merge(docs.filter(F.col("doc_id") > mid), 1, store)
    for f in inputs:
        assert os.path.exists(f), f"aborted compaction deleted input {f}"
    assert not os.path.exists(f"{target}_tmp")
    assert not os.path.exists(os.path.join(store, "_compact_pending"))
    got = spark.read.parquet(store).toPandas()
    assert got["sig"].is_unique
    assert sorted(
        map(tuple, got[got.doc_id <= mid][["doc_id", "sig"]]
            .itertuples(index=False))
    ) == [r for r in rows_before]


def test_dedup_store_replay_of_uncommitted_batch_recomputes(
    spark, tmp_path, sf_dir
):
    """Crash window between the winners-file write and the _committed
    append: the replayed batch must NOT anti-join against its own
    orphaned file (that would empty the winners and overwrite the file
    with nothing, losing the signatures forever). The replay recomputes
    the identical winners and the store converges."""
    import os

    from pyspark.sql import functions as F

    from insight_patents_spark.sources.tables import load
    from insight_patents_spark.streaming.queries import _dedup_store_merge

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(mn) + int(mx)) // 2
    store = str(tmp_path / "store")
    first = docs.filter(F.col("doc_id") <= mid)
    _dedup_store_merge(first, 0, store)
    rows_committed = sorted(
        map(tuple, spark.read.parquet(store).collect())
    )
    # simulate the crash: batch 1's winners file landed but its id never
    # reached _committed — strip the commit record and replay
    second = docs.filter(F.col("doc_id") > mid)
    _dedup_store_merge(second, 1, store)
    rows_full = sorted(map(tuple, spark.read.parquet(store).collect()))
    with open(os.path.join(store, "_committed"), "w") as fh:
        fh.write("0\n")  # batch 1's record lost in the crash
    _dedup_store_merge(second, 1, store)  # the replay
    assert sorted(
        map(tuple, spark.read.parquet(store).collect())
    ) == rows_full, "replay of an uncommitted batch lost its winners"
    assert rows_full != rows_committed  # batch 1 really contributed rows


# --- the vector family's shared NumPy scoring kernel (operators/vector.py:
# _fold_dots, _band_shortlist, _rank_cmp) pinned directly -----------------


@pytest.mark.parametrize("D", [1, 63, 64])
@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_fold_dots_bit_identical_to_spark_fold_and_duckdb(
    spark, monkeypatch, D, dtype
):
    """`_fold_dots` is the NumPy twin of the `_dot` fold: every pair dot
    (and every row-wise self-dot) must be bitwise == to Spark's
    aggregate(zip_with) fold and to DuckDB's list_dot_product over the
    oracle's CAST(... AS DOUBLE[]). `_band_shortlist` scores the same
    bits when its row chunks split the batch."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    from insight_patents_spark.operators import vector as V

    # seeded terms spanning eight decades of magnitude, so a dot's value
    # depends on the order its terms are added in
    rng = np.random.default_rng(D)
    X, C = (
        (rng.standard_normal((n, D)) * 10.0 ** rng.uniform(-4, 4, (n, D)))
        .astype(dtype)
        .astype(np.float64)  # float32 widens exactly
        for n in (9, 7)
    )
    got = V._fold_dots(X, C)
    assert got.shape == (len(X), len(C))
    elem = "float" if dtype == "float32" else "double"
    pairs = [
        (i, j, X[i].tolist(), C[j].tolist())
        for i in range(len(X))
        for j in range(len(C))
    ] + [(i, -1, X[i].tolist(), X[i].tolist()) for i in range(len(X))]
    want = {(i, j): got[i, j] for i in range(len(X)) for j in range(len(C))}
    self_dots = V._fold_dots(X, X, rowwise=True)
    want.update({(i, -1): self_dots[i] for i in range(len(X))})

    sdf = spark.createDataFrame(
        pairs, f"i int, j int, x array<{elem}>, c array<{elem}>"
    )
    spark_dots = {
        (r.i, r.j): r.d
        for r in sdf.select("i", "j", V._dot("x", "c").alias("d")).collect()
    }
    assert spark_dots == want  # float ==, not approx

    arrow_t = pa.list_(pa.float32() if dtype == "float32" else pa.float64())
    tbl = pa.table(
        {
            "i": [p[0] for p in pairs],
            "j": [p[1] for p in pairs],
            "x": pa.array([p[2] for p in pairs], type=arrow_t),
            "c": pa.array([p[3] for p in pairs], type=arrow_t),
        }
    )
    con = duckdb.connect()
    con.register("t", tbl)
    duck_dots = {
        (i, j): d
        for i, j, d in con.execute(
            "SELECT i, j, list_dot_product(CAST(x AS DOUBLE[]), "
            "CAST(c AS DOUBLE[])) FROM t"
        ).fetchall()
    }
    con.close()
    assert duck_dots == want

    # row chunks of 2 (the cell budget forced below one matrix): keeping
    # every candidate, each emitted score is the unchunked fold's bits
    monkeypatch.setattr(V, "_SHORTLIST_CELLS", 2 * len(C) + 1)
    cids = np.arange(len(C), dtype=np.int64)
    short = V._band_shortlist(X, C, cids, len(C), "dot_desc")
    assert [[(e["cid"], e["score"]) for e in row] for row in short] == [
        [(j, got[i, j]) for j in range(len(C))] for i in range(len(X))
    ]


def test_bucket_assign_matches_cumsum_reference_on_signed_zero_dots(spark):
    """`_bucket_assign_udf` moved from a (n, P, D) product tensor summed
    with np.cumsum to `_fold_dots`. The cumsum starts at the first
    product, the fold at 0.0, so an all-(-0.0) dot is -0.0 in one and
    +0.0 in the other: the bucket bit (dot > 0) must not see it."""
    import numpy as np
    import pandas as pd

    from insight_patents_spark.operators.vector import (
        _DIM,
        _bucket_assign_udf,
        _fold_dots,
        _multi_table_planes,
    )

    plane_sets = _multi_table_planes(6)
    w0 = np.array(plane_sets[0][0])
    rng = np.random.default_rng(7)
    rows = list(rng.standard_normal((40, _DIM)).astype(np.float32).astype(float))
    ortho = np.zeros(_DIM)
    ortho[0], ortho[1] = w0[1], -w0[0]  # x . w0 == 0.0 exactly
    neg_zero = np.copysign(0.0, -w0)  # every x_d * w0_d is -0.0
    rows += [np.zeros(_DIM), neg_zero, -neg_zero, ortho, -ortho]
    x = np.array(rows, dtype=np.float64)

    got = _bucket_assign_udf(plane_sets).func(pd.Series(rows)).tolist()
    per_table, signed_zero_seen = [], False
    for planes in plane_sets:
        w = np.array(planes, dtype=np.float64)
        prod = x[:, None, :] * w[None, :, :]  # the former (n, P, D) form
        dots = np.cumsum(prod, axis=2)[:, :, -1]
        pw = np.int64(1) << np.arange(w.shape[0], dtype=np.int64)
        per_table.append(((dots > 0) * pw).sum(axis=1))
        fold = _fold_dots(x, w)
        assert ((dots == 0) == (fold == 0)).all()
        signed_zero_seen |= bool(
            ((dots == 0) & (np.signbit(dots) != np.signbit(fold))).any()
        )
    assert got == np.stack(per_table, axis=1).tolist()
    assert signed_zero_seen  # the -0.0 vs +0.0 case really occurred


@pytest.mark.parametrize("mode", ["dot_desc", "d2_asc"])
def test_band_shortlist_is_superset_of_rounded_topk_on_near_ties(
    spark, monkeypatch, mode
):
    """Scores 1e-10 apart straddling a 9dp rounding boundary, plus exact
    ties: for every k, `_band_shortlist` keeps every candidate that can
    enter the (round(score, 9), cid) top-k — under both half-even and
    half-up rounding, and everything within 1e-9 of the raw k-th best —
    and the JVM `_topk_expr` over the shortlist equals the one over the
    full candidate list."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from insight_patents_spark.operators import vector as V

    rng = np.random.default_rng(3)
    near = 0.7000000005 + 1e-10 * np.arange(-12, 13)
    vals = np.concatenate([near, near[:5], [0.69, 0.71, -0.2, 0.3]])
    cids = rng.permutation(len(vals)).astype(np.int64)
    order = np.argsort(cids)
    C, cids = vals[order][:, None], cids[order]  # (m, 1), cid-ascending
    X = np.array([[1.0], [0.5], [2.0], [-1.0], [1.0000000001]])
    cc = V._fold_dots(C, C, rowwise=True)
    monkeypatch.setattr(V, "_SHORTLIST_CELLS", 2 * len(C))  # 2-row chunks

    full = V._band_shortlist(X, C, cids, len(C), mode, cc)  # keeps all
    sign = -1 if mode == "dot_desc" else 1
    roundings = (
        lambda s: round(s, 9),
        lambda s: float(
            Decimal(repr(s)).quantize(Decimal("1e-9"), ROUND_HALF_UP)
        ),
    )
    shorts = {}
    for k in (1, 2, 3, 4, 6):
        shorts[k] = V._band_shortlist(X, C, cids, k, mode, cc)
        for row_full, row_short in zip(full, shorts[k]):
            kept = {e["cid"] for e in row_short}
            for rnd in roundings:
                top = sorted(
                    row_full, key=lambda e: (sign * rnd(e["score"]), e["cid"])
                )
                assert {e["cid"] for e in top[:k]} <= kept
            raw = sorted(sign * e["score"] for e in row_full)
            near_kth = {
                e["cid"]
                for e in row_full
                if sign * e["score"] <= raw[k - 1] + 1e-9
            }
            assert near_kth <= kept
            assert [e["cid"] for e in row_short] == sorted(kept)  # cid-ascending
            assert len(kept) < len(row_full)  # the band really prunes

    rows = [
        (k, r, full[r], short[r])
        for k, short in shorts.items()
        for r in range(len(X))
    ]
    df = spark.createDataFrame(
        rows,
        "k int, r int, full array<struct<score:double,cid:bigint>>, "
        "short array<struct<score:double,cid:bigint>>",
    )
    for k in shorts:
        sub = df.filter(F.col("k") == k).select(
            "r",
            V._topk_expr("full", k, mode).alias("a"),
            V._topk_expr("short", k, mode).alias("b"),
        )
        for row in sub.collect():
            assert row.a == row.b, (k, row.r)


def test_cosine_topk_drops_null_labels_like_oracle(spark, sf_dir, tmp_path):
    """A NULL label joins nothing in the oracle's a.label = b.label, so a
    NULL-label embedding is neither a probe nor a neighbor. Before the
    fix the driver-side candidate grouping ran int(None) and raised."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from insight_patents_spark import registry
    from insight_patents_spark.operators.vector import vec_cosine_topk
    from tools.check import compare

    src = pq.read_table(Path(sf_dir).with_name("sf0.001") / "embeddings.parquet")
    null_ids = [10**9, 10**9 + 1]  # copies of two real embeddings
    extra = src.slice(0, 2).to_pydict()
    extra["vec_id"] = null_ids
    extra["label"] = [None, None]
    tbl = pa.concat_tables([src, pa.Table.from_pydict(extra, schema=src.schema)])
    pq.write_table(tbl, tmp_path / "embeddings.parquet")

    got = vec_cosine_topk(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    want = con.execute(registry.load_all()["vec_cosine_topk"].oracle).df()
    con.close()
    assert not set(null_ids) & (set(got["vec_id"]) | set(got["neighbor_id"]))
    problems = compare("vec_cosine_topk", got, want)
    assert not problems, "; ".join(problems)


# Inputs of the determinism-contract tests: empty, ASCII, and multi-byte
# UTF-8 text (md5 hashes the UTF-8 bytes in all three engines).
_HASH_INPUTS = ["", "a", "table 42", "é", "日本語 テキスト", "\U0001f600 emoji"]


def test_hex_int_matches_duckdb_and_python(spark):
    """hex_int(md5(x), width, start) == DuckDB's
    CAST('0x' || substr(md5(x), start, width) AS BIGINT) == Python's
    int(md5(x).hexdigest()[start-1:start-1+width], 16), for every width
    the contract allows; width 16 could pass 2^63 and must raise."""
    import hashlib

    import duckdb
    import pandas as pd

    from insight_patents_spark.functions.stable import hex_int

    cases = [(w, s) for w in range(1, 16) for s in (1, 2, 9, 18)]
    df = spark.createDataFrame(list(enumerate(_HASH_INPUTS)), "i int, x string")
    got = {
        r["i"]: r
        for r in df.select(
            "i", *[hex_int(F.md5("x"), w, s).alias(f"h{w}_{s}") for w, s in cases]
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(_HASH_INPUTS)), "x": _HASH_INPUTS}))
    cols = ", ".join(
        f"CAST('0x' || substr(md5(x), {s}, {w}) AS BIGINT) AS h{w}_{s}"
        for w, s in cases
    )
    duck = {r[0]: r[1:] for r in con.execute(f"SELECT i, {cols} FROM t").fetchall()}
    con.close()
    for i, x in enumerate(_HASH_INPUTS):
        digest = hashlib.md5(x.encode("utf-8")).hexdigest()
        for k, (w, s) in enumerate(cases):
            want = int(digest[s - 1 : s - 1 + w], 16)
            assert got[i][f"h{w}_{s}"] == duck[i][k] == want, (x, w, s)
    with pytest.raises(ValueError):
        hex_int(F.md5(F.lit("x")), 16)


def test_tokens_match_duckdb_string_split_and_py_tokens(spark):
    """tokens(), DuckDB string_split(x, ' ') and py_tokens agree on empty
    strings, edge and double spaces, non-space whitespace and NULL."""
    import duckdb
    import pandas as pd

    from insight_patents_spark.functions.stable import py_tokens, tokens

    inputs = ["", " ", " a", "a ", "a  b", "a\xa0b", "a\tb", "　x y", None]
    df = spark.createDataFrame(list(enumerate(inputs)), "i int, x string")
    got = {r["i"]: r["t"] for r in df.select("i", tokens("x").alias("t")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(inputs)), "x": inputs}))
    duck = dict(con.execute("SELECT i, string_split(x, ' ') FROM t").fetchall())
    con.close()
    for i, x in enumerate(inputs):
        assert got[i] == duck[i] == py_tokens(x), repr(x)


def test_md5_digit_row_matches_hashlib_nibbles():
    """One row of each md5-derived weight family equals the nibbles of
    md5(tag:0) ‖ md5(tag:1), cut to 64 and shifted by 7.5."""
    import hashlib

    from insight_patents_spark.operators import vector as V

    def row(tag: str) -> list[float]:
        raw = b"".join(hashlib.md5(f"{tag}:{h}".encode()).digest() for h in (0, 1))
        nibbles = [n for byte in raw for n in (byte >> 4, byte & 15)]
        return [n - 7.5 for n in nibbles[: V._DIM]]

    assert V._DIM == 64
    assert V._md5_digit_row("5") == V._plane_weights(6)[5] == row("5")
    assert V._md5_digit_row("1:3") == V._multi_table_planes(4)[1][3] == row("1:3")
    assert V._md5_digit_row("cp2:7") == V._cp_rotations()[2][7] == row("cp2:7")
