"""Per-stage diagnostic: run registered queries through the noop sink and
print, per query, its wall time, job count, compiled generated classes
(codegen cache misses), stage count and total executor CPU, then each
new stage's (numTasks, executorRunTime, executorCpuTime) from the UI
REST API. Single-task stages with large run time = single-input-split
map stages (guide §2.5). On a box with ambient hypervisor throttling,
runTime overstates task cost by the wait factor; CPU is the honest
per-stage cost. Uses the engine's session confs
(``session.session_confs``) with the UI enabled (the probe is a
diagnostic, not a bench). Usage:

    python tools/cpu_probe.py [--sf DIR] [--min-ms N] q [q ...]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession  # noqa: E402

from insight_patents_spark import registry  # noqa: E402
from insight_patents_spark.runtime import release_ephemeral  # noqa: E402
from insight_patents_spark.session import (  # noqa: E402
    compiled_classes,
    get_spark,
    session_confs,
)


def probe_session() -> SparkSession:
    return get_spark("ips-stage-probe", {**session_confs(), "spark.ui.enabled": "true"})


def _rest(spark, what: str) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{what}") as r:
        return json.load(r)


def job_ids(spark) -> set[int]:
    return {j["jobId"] for j in _rest(spark, "jobs")}


def stage_cpu_rows(spark):
    data = _rest(spark, "stages")
    return [
        (
            s["stageId"],
            s["numTasks"],
            s.get("executorRunTime", 0),
            s.get("executorCpuTime", 0) // 1_000_000,
            s.get("name", "")[:70],
        )
        for s in data
        if s.get("status") in ("COMPLETE", "ACTIVE")
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--min-ms", type=int, default=200)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    specs = registry.load_all()
    spark = probe_session()
    specs["agg_groupby"].fn(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    seen = {r[0] for r in stage_cpu_rows(spark)}
    seen_jobs = job_ids(spark)
    for name in args.queries:
        compiles = compiled_classes(spark)
        t0 = time.time()
        specs[name].fn(spark, args.sf).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.time() - t0
        rows = [r for r in stage_cpu_rows(spark) if r[0] not in seen]
        seen |= {r[0] for r in rows}
        jobs = job_ids(spark) - seen_jobs
        seen_jobs |= jobs
        tot_cpu = sum(r[3] for r in rows)
        compiles = compiled_classes(spark) - compiles
        print(
            f"== {name}: wall={wall:.2f}s jobs={len(jobs)} compiles={compiles} "
            f"stages={len(rows)} "
            f"totalCpu={tot_cpu}ms",
            file=sys.stderr,
        )
        for sid, nt, rt, cpu, nm in sorted(rows):
            if rt >= args.min_ms:
                print(
                    f"  stage {sid}: tasks={nt} run={rt}ms cpu={cpu}ms {nm}",
                    file=sys.stderr,
                )
        release_ephemeral(spark)
    spark.stop()


if __name__ == "__main__":
    main()
