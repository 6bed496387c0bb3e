"""Steadiness record: run every workload once per seed and summarize
each end-to-end metric by its median and quartiles.

    python3 perfbench/steadiness.py --seeds 1-10 --label a
    python3 perfbench/steadiness.py --compare a b
    python3 perfbench/steadiness.py --overhead --seeds 1-5

A run set is written to ``perfbench/records/steadiness-c<cores>-<label>.json``.
``spread`` is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median; a
metric whose spread exceeds a tenth is flagged ``repeats_within_tenth:
false`` rather than gated. ``--compare`` reports, per workload and
metric, how far the second set's median moved from the first's, next
to the metric's bound in ``BENCHMARK.json``. ``--overhead`` runs each
seed untraced and then traced, and reports per workload the traced
pass's wall time over the untraced one, minus 1: the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
RECORDS = BENCH / "records"


def _benchmark() -> dict:
    with open(BENCH.parent / "BENCHMARK.json") as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    spread = (q3 - q1) / median if median else float("inf")
    return {
        "median": median,
        "q1": q1,
        "q3": q3,
        "spread": spread,
        "repeats_within_tenth": spread <= 0.1,
        "values": values,
    }


def _run(bench: dict, workload: str, seed: int, trace: int) -> dict:
    """One run of the command ``BENCHMARK.json`` names; its result line
    plus the process's wall time."""
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, cwd=BENCH.parent, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, timeout=900,
    )
    elapsed = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace} exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["process_s"] = elapsed
    print(workload, seed, trace, f"{elapsed:.1f}s", json.dumps(result["metrics"]), file=sys.stderr)
    return result


def run_set(seeds: list[int], label: str, trace: int) -> dict:
    bench = _benchmark()
    out = {"label": label, "trace": trace, "seeds": seeds, "workloads": {}}
    for w in bench["workloads"]:
        rows = [_run(bench, w["name"], seed, trace) for seed in seeds]
        names = rows[0]["metrics"]
        out["workloads"][w["name"]] = {
            "runs": len(rows),
            "attempted": sum(r["attempted"] for r in rows),
            "failed": sum(r["failed"] for r in rows),
            "process_s": _stats([r["process_s"] for r in rows]),
            "metrics": {
                m: {"unit": names[m]["unit"], **_stats([r["metrics"][m]["value"] for r in rows])}
                for m in names
            },
        }
    return out


def overhead(seeds: list[int]) -> dict:
    bench = _benchmark()
    out = {"seeds": seeds, "workloads": {}}
    for w in bench["workloads"]:
        ratios = []
        for seed in seeds:
            plain = _run(bench, w["name"], seed, 0)["metrics"]["wall_s"]["value"]
            traced = _run(bench, w["name"], seed, 1)["metrics"]["trace.wall_s"]["value"]
            ratios.append(traced / plain - 1.0)
        out["workloads"][w["name"]] = _stats(ratios)
    return out


def compare(a: dict, b: dict) -> dict:
    bounds = {m["name"]: m["bound"] for m in _benchmark()["end_to_end"]}
    out = {}
    for w, wa in a["workloads"].items():
        wb = b["workloads"][w]
        out[w] = {}
        for m, sa in wa["metrics"].items():
            if m not in bounds:
                continue
            moved = wb["metrics"][m]["median"] / sa["median"] - 1.0
            out[w][m] = {
                "median_a": sa["median"],
                "median_b": wb["metrics"][m]["median"],
                "moved": moved,
                "bound": bounds[m],
                "within_bound": moved <= bounds[m],
                "spread_a": sa["spread"],
                "spread_b": wb["metrics"][m]["spread"],
            }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--label")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    ap.add_argument("--overhead", action="store_true", help="paired untraced/traced runs")
    args = ap.parse_args()
    import os

    cores = len(os.sched_getaffinity(0))
    RECORDS.mkdir(exist_ok=True)
    if args.compare:
        a, b = (
            json.loads((RECORDS / f"steadiness-c{cores}-{x}.json").read_text())
            for x in args.compare
        )
        result = compare(a, b)
        path = RECORDS / f"steadiness-c{cores}-{args.compare[0]}-vs-{args.compare[1]}.json"
    elif args.overhead:
        result = overhead(_seeds(args.seeds))
        path = RECORDS / f"trace-overhead-c{cores}.json"
    else:
        if not args.label:
            ap.error("--label is required to record a run set")
        result = run_set(_seeds(args.seeds), args.label, args.trace)
        result["cores"] = cores
        path = RECORDS / f"steadiness-c{cores}-{args.label}.json"
    path.write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
