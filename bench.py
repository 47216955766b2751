"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes to completion through the noop sink (full computation,
no driver-side collection cost). A warm-up query runs first so JVM/codegen
startup is excluded from per-query numbers.

Process stdout is byte-exact ONE JSON line: fd 1 is redirected into fd 2
for the whole run (so anything the JVM or a library writes to stdout lands
on stderr) and the JSON is written to a saved dup of the real stdout at
the end. Round 1's driver record showed ``"parsed": null`` — never let
stray stdout near the contract again.

Round 2's record ALSO showed ``"parsed": null`` for a different reason:
the driver keeps only a 2 KB tail of stdout, and the per-query map for
156 queries made the line ~4 KB, decapitating the JSON head. The contract
line is therefore COMPACT (< 1.5 KB): total + per-family subtotals in
"queries". The full per-query map goes to BENCH_local.json at the repo
root, which the driver does not truncate.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REAL_STDOUT = os.dup(1)
os.dup2(2, 1)
sys.stdout = sys.stderr

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from insight_patents_spark import registry  # noqa: E402
from insight_patents_spark.runtime import release_ephemeral  # noqa: E402
from insight_patents_spark.session import get_spark  # noqa: E402

_GC_EVERY = 25  # queries between forced JVM GCs (see main's hygiene note)


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    only = sys.argv[1:]  # optional subset for iteration

    # Registry order (not alphabetical). Shared-cache first-touch is
    # charged to the dedicated _cache_warm row below, so per-query
    # numbers stay comparable across showcase-rotation reorders.
    specs = registry.load_all()
    names = [n for n in specs if not only or n in only]

    spark = get_spark("ips-bench")
    # Warm-up excludes one-time platform startup from per-query numbers:
    # JVM/codegen (any JVM query), the Python UDF worker pool + DataSource
    # plumbing (~5 s cold), and the higher-order-function interpreter
    # (zip_with/aggregate folds JIT over several seconds on first touch —
    # measured 11 s -> 4 s on the first vec query otherwise).
    _execute(specs["agg_groupby"].fn(spark, sf_dir))
    _execute(specs["udf_pandas_scalar"].fn(spark, sf_dir))
    _execute(specs["scan_python_datasource"].fn(spark, sf_dir))
    # HOF-interpreter warm-up must use an UNcached vec query: vec_ann_lsh
    # now materializes a shared bucket/shortlist cache, and warming it up
    # here would hide that cost from its measured run.
    _execute(specs["vec_cosine_topk"].fn(spark, sf_dir))

    timings: dict[str, float] = {}
    # Shared-cache first-touch goes to a DEDICATED row instead of
    # whichever consumer the showcase rotation happens to order first
    # (r7 bench archaeology: the edge cache landed on graph_hits, the
    # minhash signature cache on dedup_eval, ±3 s of phantom per-query
    # "regression" per rotation). graph_build owns the pair/edge cache,
    # dedup_minhash the signature cache, and the first streaming query
    # pays the state-store spin-up — charge all three here so per-query
    # numbers are comparable across rounds. (vec_ann_lsh's bucket cache
    # stays charged to its own measured run by documented design.)
    if not only:
        t0 = time.time()
        _execute(specs["graph_build"].fn(spark, sf_dir))
        _execute(specs["dedup_minhash"].fn(spark, sf_dir))
        _execute(specs["stream_tumbling"].fn(spark, sf_dir))
        # r9: the verified-pair table (signatures -> LSH -> Jaccard
        # verify) and the contraction-fixpoint cluster labels joined the
        # shared caches — both feed dedup_cluster_cc AND
        # pipeline_llm_curation_e2e, so their one-time builds are
        # charged here like the signature cache they extend.
        _execute(specs["dedup_cluster_cc"].fn(spark, sf_dir))
        timings["_cache_warm"] = round(time.time() - t0, 3)
    # Per-query state hygiene (VERDICT r10 #1 — the full-run inflation):
    # after each query's sink commits, unpersist its ephemeral
    # localCheckpoints (shared caches protected via the runtime registry)
    # and periodically nudge the JVM GC so ContextCleaner reclaims
    # finished broadcasts. Both run OUTSIDE the timed window, but they
    # change the steady-state storage/GC conditions EVERY query runs
    # under — so r11+ maps are a NEW BASELINE, not directly comparable
    # with r1-r10 maps except one-sidedly (r11+ rows can only be equal
    # or faster for the same plan; ADVICE r11). Cross-round deltas
    # should compare r11+ against r11+.
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            _execute(specs[name].fn(spark, sf_dir))
            timings[name] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001
            timings[name] = -1.0
            print(f"# BENCH ERROR {name}: {type(e).__name__}: {str(e)[:200]}",
                  file=sys.stderr)
        release_ephemeral(spark)
        if (i + 1) % _GC_EVERY == 0:
            spark.sparkContext._jvm.System.gc()

    # Contention stabilization (VERDICT r8 #6, symmetric since r10 per
    # ADVICE r9): ambient load swings single queries 2-4x IN BOTH
    # DIRECTIONS. A read suspect vs its previously committed time —
    # past 2x (+1 s) slow OR under half (-0.5 s) fast — is re-measured
    # once on the same warm session, and the MEDIAN of {first read,
    # re-run, committed prior} is recorded. One noisy read (spike or
    # lucky dip) is outvoted by the other two; a genuine shift shows in
    # both reads and wins the median — so the record cannot ratchet
    # toward minimum-observed timings across rounds. The re-measured
    # set is annotated (first read preserved) only when the committed
    # value actually changed. Shared caches are fully pre-warmed above,
    # so the second run measures the same plan, minus the noise.
    remeasured: dict[str, float] = {}
    if not only:
        # Anchor = the COMMITTED map (git HEAD), not the last run's file:
        # under sustained directional noise, last-run anchoring lets a
        # row ratchet upward in just-under-2x steps across back-to-back
        # runs (each inflated run becomes the next run's baseline — the
        # geo_knn 4.8 -> 27.6 walk at the r10 close). The committed tree
        # only advances when a human-reviewed close lands, so intra-close
        # runs can no longer feed each other. Falls back to the on-disk
        # file (first run in a fresh repo / no git).
        try:
            import subprocess

            prev = json.loads(
                subprocess.run(
                    ["git", "-C", str(REPO), "show", "HEAD:BENCH_local.json"],
                    capture_output=True, text=True, check=True,
                ).stdout
            )["queries"]
        except Exception:  # noqa: BLE001
            try:
                prev = json.loads((REPO / "BENCH_local.json").read_text())[
                    "queries"
                ]
            except Exception:  # noqa: BLE001 (first run: no record yet)
                prev = {}
        for name in names:
            p = prev.get(name)
            if not (p and p > 0):
                continue
            first = timings[name]
            if not (first > 2 * p + 1 or first < p / 2 - 0.5):
                continue
            t0 = time.time()
            try:
                _execute(specs[name].fn(spark, sf_dir))
            except Exception:  # noqa: BLE001
                continue
            again = round(time.time() - t0, 3)
            release_ephemeral(spark)
            committed = sorted((first, again, p))[1]
            if committed != first:
                remeasured[name] = first  # the noisy first read
                timings[name] = committed

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    n_err = sum(1 for t in timings.values() if t < 0)
    n_queries = sum(1 for n in timings if not n.startswith("_"))

    # Per-family subtotals keep the stdout line < 1.5 KB (the driver's
    # stdout tail is 2 KB; a 156-entry per-query map decapitated the line
    # in rounds 1-2 -> "parsed": null).
    fams: dict[str, float] = {}
    for name, t in timings.items():
        if t < 0:
            continue
        fam = name.split("_", 1)[0] if not name.startswith("_") else "warm"
        if fam in ("udf", "udaf", "udtf"):
            fam = "udf"
        fams[fam] = round(fams.get(fam, 0.0) + t, 3)

    full = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "n_queries": n_queries,
        "n_errors": n_err,
        # queries whose suspect first read (>2x slow or <0.5x fast vs
        # committed) was outvoted by the re-run+prior median; the noisy
        # first read is preserved here, timings hold the median
        "remeasured_first_read": remeasured,
    }
    if not only:  # subset runs must not clobber the full per-query record
        (REPO / "BENCH_local.json").write_text(json.dumps(full, indent=1) + "\n")
    else:  # iteration aid: per-query detail on stderr (stdout stays contract-clean)
        for name, t in timings.items():
            print(f"# {name}: {t}", file=sys.stderr)

    line = json.dumps(
        {
            "metric": "total_query_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": fams,
            "sf": float(sf),
            "n_queries": n_queries,
            "n_errors": n_err,
            "detail": "BENCH_local.json",
        }
    )
    assert len(line) < 1500, f"stdout contract line too long: {len(line)}"
    os.write(_REAL_STDOUT, (line + "\n").encode())
    spark.stop()


if __name__ == "__main__":
    main()
