"""Layered benchmark of record for the query engine.

One client runs a workload's queries in sequence (a closed loop) in a
single process on ``local[<cores>]``, with the session settings of
``bench.py`` (``get_spark``, ``maxPartitionBytes=8m``). The fixture
tables ship with the benchmark (``perfbench/data``), so a run reads and
writes nothing outside the checkout it runs in.

    python3 perfbench/run.py --workload single_plan --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all --seed 1

A run sets up (session start; warm-up on non-member queries; the
workload's ``PREPARES``, built ``SETUP_REPEATS`` times), then measures
whole passes over the workload's queries in an order the seed
permutes, until at least ``--seconds`` have been measured. Every
query's output is checked against its DuckDB oracle between queries,
outside the timed interval.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the
separate traced run and reports the per-layer metrics (see spans.py).
Stdout gets two JSON lines: the full report, then the result line that
``BENCHMARK.json`` describes. Spark logs and progress bars go to
stderr. The full record of a run, per-query latencies and (when
traced) every span, is written to
``.perfbench_work/records/<workload>-seed<seed>-c<cores>-trace<t>.json``
in the checkout. ``--all`` runs every workload untraced and traced, one
process each, and prints all their metrics with the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

from check import Checker
from spans import Tracer, layer_record

T_START = time.perf_counter()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"
DATA = BENCH / "data" / "sf0.01"
PACKAGE = ROOT / "hubsit_health_analytics_etl_spark"

# Driver heap cap. At the bundled scale the engine needs well under
# 1 GB; a cap close to that keeps peak RSS from following the JVM's
# heap-growth heuristics (which moved it by a fifth run to run at 8g).
DRIVER_MEM = "2g"

# The PREPARES are built this many times; setup_s reports session start
# + warm-up + their median, so one slow repetition does not move it.
SETUP_REPEATS = 3

# End-to-end metrics BENCHMARK.json gates on. query_p50_s and
# query_tail_s are reported, not gated: on the 3- and 4-query workloads
# the median is one query's cold first run, which the seed's order
# moves by a third and more.
E2E_GATED = ("setup_s", "wall_s", "peak_rss_mb")
LAYER_UNITS = {
    "builder.s": "s",
    "builder.jobs": "count",
    "builder.idle_s": "s",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "sources.parquet.reads": "count",
    "sources.parquet.memo_misses": "count",
    "sources.parquet.read_s": "s",
    "operators.concurrency.waves": "count",
    "operators.concurrency.wave_s": "s",
    "operators.concurrency.jobs_in_flight": "count",
    "materialize.calls": "count",
    "materialize.s": "s",
    "materialize.storage_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.core_busy_frac": "frac",
    "spark.s_per_job": "s",
    "prepare.s": "s",
    "trace.wall_s": "s",
    "trace.layer_sum_frac": "frac",
}
# Layer times that are exactly 0 on a workload that never reaches the
# layer (no wave on single_plan or iterative, no checkpoint on
# single_plan): reported, but not among BENCHMARK.json's metrics, whose
# times must vary run to run.
LAYER_REPORTED_ONLY = ("operators.concurrency.wave_s", "materialize.s")


class BenchError(Exception):
    """A run that cannot produce a result (missing program, unknown
    workload or query). Exits non-zero without a result line."""


def load_workloads() -> dict:
    with open(BENCH / "workloads.json") as f:
        return json.load(f)


def validate(spec: dict, queries, oracles) -> None:
    """Fail loudly on a member or warm-up query the program lacks, on a
    member with no oracle, and on a warm-up query that is a member."""
    members = {q for w in spec["workloads"].values() for q in w["queries"]}
    warmups = set(spec["warmup_queries"])
    missing = sorted((members | warmups) - set(queries))
    if missing:
        raise BenchError(f"queries missing from workload.QUERIES: {missing}")
    unchecked = sorted(members - set(oracles))
    if unchecked:
        raise BenchError(f"member queries without an oracle: {unchecked}")
    if warmups & members:
        raise BenchError(f"warm-up queries {sorted(warmups & members)} are timed members")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise BenchError(f"no VmHWM for pid {pid}")


def tail_latency(latencies: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it, or
    ``None`` when that percentile would not lie above the median."""
    n = len(latencies)
    if n <= 20:
        return None
    k = n - 11  # 0-based index with exactly 10 samples above it
    return {"value": sorted(latencies)[k], "percentile": round(100.0 * (k + 1) / n, 1), "n": n}


def _prepare_env(run_dir: Path, n_cores: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    the run's own directory inside the checkout."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = str(tmp)
    os.chdir(run_dir)


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _setup(spark, spec: dict, members: list[str], prepares, queries) -> tuple[str, float, list]:
    """Warm up once, then run the workload's PREPARES ``SETUP_REPEATS``
    times.

    PREPARES memoize per (process, sf_dir) and the parquet plan memo per
    path string, so each repetition addresses the same tables through
    its own spelling of the data directory (``<dir>/.``, ``<dir>/./.``)
    and pays the full build again. The last spelling serves the timed
    passes, whose first table reads are therefore memo misses."""
    t0 = time.perf_counter()
    for name in spec["warmup_queries"]:
        queries[name](spark, str(DATA)).toPandas()
    warmup_s = time.perf_counter() - t0
    prepare_s = []
    for k in range(SETUP_REPEATS):
        sf = str(DATA) + "/." * (k + 1)
        t0 = time.perf_counter()
        for name in members:
            if name in prepares:
                prepares[name](spark, sf)
        prepare_s.append(time.perf_counter() - t0)
    return sf, warmup_s, prepare_s


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 oracles: dict[str, str] | None = None) -> dict:
    """One benchmark run of ``workload``; returns its full record.

    ``oracles`` replaces the program's oracle SQL (the benchmark's own
    test feeds a wrong expectation through it)."""
    spec = load_workloads()
    if workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {workload!r}; have {sorted(spec['workloads'])}")
    n_cores = cores()
    key = f"{workload}-seed{seed}-c{n_cores}-trace{int(trace)}"
    run_dir = WORK / "runs" / f"{key}-{os.getpid()}"
    _prepare_env(run_dir, n_cores)
    sys.path.insert(0, str(ROOT))

    from hubsit_health_analytics_etl_spark import workload as wl
    from hubsit_health_analytics_etl_spark.session import get_spark

    validate(spec, wl.QUERIES, wl.ORACLES)
    members = spec["workloads"][workload]["queries"]

    t0 = time.perf_counter()
    startup_s = t0 - T_START
    spark = get_spark(app_name="hubsit-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    session_s = time.perf_counter() - t0
    tracer = None
    checker = None
    try:
        if trace:
            tracer = Tracer(spark)
            tracer.install()
            tracer.qid = "setup"
        sf, warmup_s, prepare_s = _setup(spark, spec, members, wl.PREPARES, wl.QUERIES)
        checker = Checker(str(DATA), wl.ORACLES if oracles is None else oracles, WORK / "oracles")
        record = _measure(spark, wl.QUERIES, members, sf, seed, seconds, tracer, checker, n_cores)
        record["storage_mb"] = tracer.storage_mb() if tracer else None
        jvm_pid = spark.sparkContext._gateway.proc.pid
        record["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    finally:
        if tracer is not None:
            tracer.uninstall()
        if checker is not None:
            checker.close()
        t_stop = time.perf_counter()
        _stop(spark)
    record.update(
        startup_s=startup_s,
        stop_s=time.perf_counter() - t_stop,
        workload=workload,
        seed=seed,
        cores=n_cores,
        trace=int(trace),
        seconds=seconds,
        session_s=session_s,
        warmup_s=warmup_s,
        prepare_runs_s=prepare_s,
        setup_s=session_s + warmup_s + statistics.median(prepare_s),
        prepare_s=statistics.median(prepare_s),
    )
    if tracer is not None:
        record["spans"] = tracer.spans
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    (WORK / "records").mkdir(parents=True, exist_ok=True)
    with open(WORK / "records" / f"{key}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    return record


def _measure(spark, queries, members, sf, seed, seconds, tracer, checker, n_cores) -> dict:
    """Whole passes in seed-permuted order until ``seconds`` are
    measured. Each query runs in its own job group; its latency spans
    the builder call to the end of the terminal action (``toPandas``,
    which hands the rows to the checker). A pass's wall clock runs from
    the first call to the last result, less the output checks and the
    trace harvest made between queries."""
    sc = spark.sparkContext
    rng = random.Random(seed)
    passes = []
    measured = 0.0
    while not passes or measured < seconds:
        order = rng.sample(members, len(members))
        runs = []
        aside = 0.0
        t_pass = time.perf_counter()
        for name in order:
            qid = f"p{len(passes)}:{name}"
            sc.setJobGroup(qid, name)
            if tracer is not None:
                tracer.qid = qid
            err = None
            t_call = time.time()
            t_built = None
            try:
                df = queries[name](spark, sf)
                t_built = time.time()
                pdf = df.toPandas()
            except Exception as e:  # a failed query is counted, not fatal
                err = f"{name}: {type(e).__name__}: {str(e)[:300]}"
            t_done = time.time()
            t_aside = time.perf_counter()
            run = {"query": name, "latency_s": t_done - t_call}
            if err is None:
                err = checker.check(name, pdf)
            if err is not None:
                run["error"] = err
                print(f"perfbench: FAILED {err}", file=sys.stderr)
            if tracer is not None and t_built is not None:
                run["layers"] = layer_record(tracer, qid, t_call, t_built, t_done, n_cores)
            runs.append(run)
            aside += time.perf_counter() - t_aside
        wall = time.perf_counter() - t_pass - aside
        passes.append({"order": order, "wall_s": wall, "aside_s": aside, "runs": runs})
        measured += wall
    return {"passes": passes}


def summarize(record: dict) -> dict:
    """Metrics of one run record, with units.

    ``report`` holds every metric the run measured: the end-to-end ones
    from an untraced run (``query_tail_s`` only where the sample
    supports it), the per-layer ones from a traced run. ``metrics`` is
    the part ``BENCHMARK.json`` names: ``E2E_GATED``, or every layer
    but ``LAYER_REPORTED_ONLY``."""
    runs = [r for p in record["passes"] for r in p["runs"]]
    ok = [r["latency_s"] for r in runs if "error" not in r]
    failed = sum(1 for r in runs if "error" in r)
    walls = [p["wall_s"] for p in record["passes"]]
    if not record["trace"]:
        report = {
            "setup_s": {"value": record["setup_s"], "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "query_p50_s": {"value": statistics.median(ok) if ok else None, "unit": "s"},
            "failed_frac": {"value": failed / len(runs), "unit": "frac"},
            "peak_rss_mb": {"value": record["peak_rss_mb"], "unit": "MB"},
        }
        tail = tail_latency(ok)
        if tail is not None:
            report["query_tail_s"] = {"unit": "s", **tail}
        gated = E2E_GATED
    else:
        values = _layer_metrics(record, walls)
        report = {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS.items()}
        gated = tuple(k for k in LAYER_UNITS if k not in LAYER_REPORTED_ONLY)
    return {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: report[k] for k in gated},
        "report": report,
        "errors": [r["error"] for r in runs if "error" in r],
    }


def _layer_metrics(record: dict, walls: list[float]) -> dict:
    """Per-pass totals of every layer, medians over passes."""
    per_pass = []
    for p in record["passes"]:
        layers = [r["layers"] for r in p["runs"] if "layers" in r]
        tot = {k: sum(l[k] for l in layers) for k in layers[0]}
        tot["operators.concurrency.jobs_in_flight"] = (
            tot["operators.concurrency.job_s"] / tot["operators.concurrency.wave_s"]
            if tot["operators.concurrency.wave_s"] > 0 else 0.0
        )
        tot["spark.core_busy_frac"] = tot["spark.executor_run_s"] / tot["spark.core_s"]
        tot["spark.s_per_job"] = p["wall_s"] / max(tot["spark.jobs"], 1)
        tot["trace.layer_sum_frac"] = (
            tot["builder.s"] + tot["plan.s"] + tot["exec.s"]
        ) / p["wall_s"]
        per_pass.append(tot)
    out = {
        k: statistics.median(t[k] for t in per_pass)
        for k in LAYER_UNITS
        if k in per_pass[0]
    }
    out["materialize.storage_mb"] = record["storage_mb"]
    out["prepare.s"] = record["prepare_s"]
    out["trace.wall_s"] = statistics.median(walls)
    return out


def run_all(seed: int, seconds: float) -> dict:
    """Every workload, untraced then traced, each in its own process;
    the traced pass's wall time over the untraced one is the tracing
    overhead."""
    n_cores = cores()
    out = {"seed": seed, "cores": n_cores, "workloads": {}}
    for name in load_workloads()["workloads"]:
        row = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}, "errors": []}
        for trace in (0, 1):
            cmd = [
                sys.executable, str(Path(__file__).resolve()),
                "--workload", name, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
            ]
            proc = subprocess.run(cmd, stdout=subprocess.DEVNULL, timeout=900)
            if proc.returncode != 0:
                raise BenchError(f"{name} trace={trace} exited {proc.returncode}")
            with open(WORK / "records" / f"{name}-seed{seed}-c{n_cores}-trace{trace}.json") as f:
                summary = summarize(json.load(f))
            row["correct"] &= summary["correct"]
            row["attempted"] += summary["attempted"]
            row["failed"] += summary["failed"]
            row["metrics"].update(summary["report"])
            row["errors"] += summary["errors"]
        m = row["metrics"]
        m["trace.overhead_frac"] = {
            "value": m["trace.wall_s"]["value"] / m["wall_s"]["value"] - 1.0,
            "unit": "frac",
        }
        out["workloads"][name] = row
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    args = ap.parse_args(argv)
    try:
        if not (PACKAGE / "workload.py").is_file() or not (ROOT / "tests" / "oracle_check.py").is_file():
            raise BenchError(f"the program is not beside the benchmark (looked in {ROOT})")
        if args.all:
            print(json.dumps(run_all(args.seed, args.seconds)))
            return 0
        if args.workload is None:
            raise BenchError("--workload or --all is required")
        # Anything the program prints goes to stderr: the last stdout
        # line is the result.
        real_stdout, sys.stdout = sys.stdout, sys.stderr
        try:
            record = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
        finally:
            sys.stdout = real_stdout
        summary = summarize(record)
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": record["cores"],
            "trace": args.trace, "report": summary["report"], "errors": summary["errors"],
        }))
        print(json.dumps({k: summary[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
