"""Local replica of the driver's t2 correctness gate.

For every registered query: run the Spark implementation and the DuckDB
oracle at the given SF, compare row-count + (sorted) column names +
order-insensitive values. Stricter than the driver on floats: exact
equality after canonicalization, with a max-abs-diff report on mismatch
so rounding conventions can be fixed precisely.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [--vanilla] [query ...]

--vanilla simulates the driver exactly: a plain SparkSession (none of our
session.py build-time confs) calling through __spark_entry__.queries(), so
it exercises the runtime configure() path the driver depends on.
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from insight_patents_spark import registry  # noqa: E402
from insight_patents_spark.runtime import release_ephemeral  # noqa: E402
from insight_patents_spark.session import get_spark  # noqa: E402
from insight_patents_spark.sources.tables import TABLE_NAMES  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("<NULL>")
            elif isinstance(v, float):
                row.append(repr(v))
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                row.append(repr([repr(float(x)) if isinstance(x, float) else x for x in v]))
            else:
                row.append(repr(v))
        rows.append(tuple(row))
    return sorted(rows)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns: spark={scols} oracle={ocols}")
        return problems
    srows, orows = canon(sdf), canon(odf)
    if srows != orows:
        n_bad = sum(1 for a, b in zip(srows, orows) if a != b) + abs(
            len(srows) - len(orows)
        )
        problems.append(f"values: {n_bad} differing rows (of {len(srows)})")
        for a, b in zip(srows, orows):
            if a != b:
                problems.append(f"  spark : {a}")
                problems.append(f"  oracle: {b}")
                break
    return problems


# The standing bench-scale (sf0.1) guard sweep — judge r8 #3: these
# operators carry guards/fixpoints/overflow-CASEs/grid caps that only
# bite ABOVE the sf0.01 driver gate (short-doc guards, chi-square
# overflow CASE, contraction/truss fixpoint bounds, winnowing packing
# headroom, skyline bucket merge, bootstrap replicate counts...). Run
# per round close via:
#   python tools/check.py --sf /root/testdata/sf0.1 --preset sf01-guards \
#       --json CHECK_SF01_r<N>.json
SF01_GUARDS = (
    "dedup_cluster_cc", "dedup_minhash_pairs", "dedup_eval",
    "graph_ktruss", "agg_chi_square", "text_winnowing", "text_ngrams",
    "text_bigram_lm", "text_decontaminate", "text_fingerprint",
    "geo_cluster_cells", "seq_attribution_markov", "agg_bootstrap_ci",
    "pipeline_patents_e2e", "graph_pagerank", "text_bpe_train",
    "win_skyline_3d", "agg_mann_whitney", "pipeline_llm_curation_e2e",
    # new in r9 (each individually verified at sf0.1 when it landed;
    # in the preset so every future sweep re-covers them)
    "dedup_minhash_weighted", "agg_apriori_triples", "text_mix_epochs",
    "graph_smallworld_sigma",
    # new in r10: the ICWS probe batch (map-merge verify, probe-side
    # candidate bound) and the graph-ANN beam search (hop unroll,
    # MATERIALIZED oracle CTEs) both have behavior that only shows at
    # bench-scale bucket occupancy / graph size
    "dedup_minhash_icws", "vec_ann_nsw",
    # late r10: cross-polytope bucket occupancy and the stateful
    # sessionizer's state-store/segment-merge path are both
    # scale-sensitive
    "vec_ann_lsh_cp", "stream_sessionize_state",
    # GSP level-3: the minsup prune ratio shifts with user count — the
    # sf0.1 run exercises prune behavior the sf0.01 grid can't
    "seq_gsp_triples",
    # Louvain merge-forest contraction: chain depth / component shapes
    # only emerge at the bench-scale graph
    "graph_louvain_move",
    # latest late-r10 pair (registered after CHECK_SF01_r10.json ran;
    # first committed sf0.1 evidence is the r11 sweep —
    # CHECK_SF01_r11.json)
    "ml_woe_iv", "sample_coreset",
    # new in r11: the persistent-store dedup replays 4 real micro-batches
    # whose store merge/anti-join occupancy only gets interesting at the
    # 5k-doc/4.8k-signature bench corpus
    "stream_dedup_store",
    # new in r12: the timer sessionizer's watermark advance, timer-flush
    # cohort sizes, and sentinel punctuation run over 10x the events and
    # 6 real micro-batches at bench scale
    "stream_sessionize_timer",
    # new in r13 (VERDICT r12 #8): vec_ann_ivf's probe fan-out and cell
    # occupancy (a standing >5 s bench row) was not yet guard-swept; and
    # the reworked cell-scoped dedup_embed_cosine's candidate occupancy
    # only gets interesting at bench-scale cell population
    "vec_ann_ivf", "dedup_embed_cosine",
    # agg_anova_f: its s_g^2 moments pass 2^53 only at bench-scale
    # event counts, where an ulp split between engines shows
    "agg_anova_f",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--vanilla", action="store_true")
    ap.add_argument("--preset", choices=["sf01-guards"], default=None)
    ap.add_argument("--json", default=None,
                    help="write per-query results to this JSON file")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.preset == "sf01-guards":
        args.queries = list(SF01_GUARDS) + args.queries

    specs = registry.load_all()
    names = args.queries or sorted(specs)
    if args.vanilla:
        from pyspark.sql import SparkSession

        import __spark_entry__ as entry_mod

        spark = SparkSession.builder.master("local[8]").getOrCreate()
        fns = entry_mod.queries()
    else:
        spark = get_spark("ips-check")
        fns = {n: s.fn for n, s in specs.items()}
    con = duck_connect(args.sf)

    n_pass = n_fail = 0
    results: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            sdf = fns[name](spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            results[name] = {"status": "FAIL",
                             "err": f"spark: {type(e).__name__}"}
            continue
        finally:
            # state hygiene for the long gate session (same contract as
            # bench.py): the result is fully in pandas by now, so the
            # query's ephemeral localCheckpoints can be released —
            # shared caches are protected via the runtime registry.
            release_ephemeral(spark)
        try:
            odf = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            results[name] = {"status": "FAIL",
                             "err": f"oracle: {type(e).__name__}"}
            continue
        problems = compare(name, sdf, odf)
        secs = round(time.time() - t0, 1)
        if problems:
            n_fail += 1
            print(f"FAIL {name} [{secs}s]")
            for p in problems:
                print(f"   {p}")
            results[name] = {"status": "FAIL", "rows": len(sdf),
                             "problems": problems[:3], "sec": secs}
        else:
            n_pass += 1
            print(f"PASS {name}: {len(sdf)} rows [{secs}s]")
            results[name] = {"status": "PASS", "rows": len(sdf),
                             "sec": secs}

    print(f"\n{n_pass} pass, {n_fail} fail")
    if args.json:
        import json

        Path(args.json).write_text(json.dumps(
            {"sf": args.sf, "n_pass": n_pass, "n_fail": n_fail,
             "results": results}, indent=1))
        print(f"wrote {args.json}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
