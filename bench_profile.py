"""Per-query profiling harness for the optimization rounds.

Same methodology as bench.py (its ``prelude``, noop sink, PREPARES
outside the timed loop, $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS) but
additionally records per query: Spark job count, stage count and task
count via the status tracker — the instrument that separates
scheduling-latency-bound queries (many tiny jobs/stages) from
genuinely compute/shuffle-bound ones (guide §1.1/§7.1, which we cannot
do through the UI because spark.ui.enabled=false here).

Usage:
    python bench_profile.py [--queries name1,name2] [--out path.json]

Writes a JSON mapping name -> {sec, jobs, stages, tasks} to
bench_evidence/profile_grid.json
(or --out). Not part of the driver contract; bench.py remains the
bench of record.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--out", default="bench_evidence/profile_grid.json")
    args = ap.parse_args()

    from bench import prelude
    from hubsit_health_analytics_etl_spark.workload import QUERIES

    wanted = [q for q in args.queries.split(",") if q] or list(QUERIES)
    spark, sf_dir = prelude("hubsit-profile", wanted)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def stage_metrics(stage_ids):
        """Sum tasks over unique stage ids (skipped stages excluded —
        getStageInfo returns None for them)."""
        tasks = 0
        stages = 0
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is not None:
                stages += 1
                tasks += info.numTasks
        return stages, tasks

    out: dict[str, dict] = {}
    for name in QUERIES:
        if name not in wanted:
            continue
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
        job_ids = tracker.getJobIdsForGroup(name)
        all_stage_ids: set[int] = set()
        for j in job_ids:
            ji = tracker.getJobInfo(j)
            if ji is not None:
                all_stage_ids.update(ji.stageIds)
        n_stages, n_tasks = stage_metrics(sorted(all_stage_ids))
        out[name] = {
            "sec": round(sec, 3),
            "jobs": len(job_ids),
            "stages": n_stages,
            "tasks": n_tasks,
        }
        sc.setJobGroup("idle", "idle")

    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    total = sum(v["sec"] for v in out.values())
    print(
        json.dumps(
            {
                "total_sec": round(total, 2),
                "n": len(out),
                "out": args.out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
