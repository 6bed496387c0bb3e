"""In-memory spans for the traced benchmark run.

Every span is recorded from outside the program, by replacing a public
module attribute with a timing wrapper for the length of the run:

- ``sources.parquet.read_parquet_immutable`` (``load_table`` calls it
  through the module global, other callers import it inside functions);
- ``operators.concurrency.ckpt_wave`` and ``run_concurrent`` (callers
  import them inside functions);
- ``DataFrame.localCheckpoint`` on the session's DataFrame class.

``load_table`` itself is deliberately not wrapped: the workload modules
bind it at import time, so a replaced attribute would never be called.

Spark's own work is read back from the status store per query job
group after the query finishes, so the traced code path launches no
extra jobs.
"""

from __future__ import annotations

import contextlib
import threading
import time


def _union(intervals, lo=None, hi=None) -> float:
    """Length of the union of ``intervals``, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Collects spans for one benchmark run. ``qid`` names the query in
    flight (the closed loop runs one query at a time, so wave threads
    attribute their spans to it too)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.qid: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "name": name,
            "qid": self.qid,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(name)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, qid: str, start: float, end: float, parent: str | None, **attrs) -> None:
        rec = {"name": name, "qid": qid, "parent": parent, "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(rec)

    def query_spans(self, qid: str, name: str) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["qid"] == qid and s["name"] == name]

    # -- wrappers around the program's public functions -------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def install(self) -> None:
        from hubsit_health_analytics_etl_spark.operators import concurrency
        from hubsit_health_analytics_etl_spark.sources import parquet

        tracer = self

        def read_wrapper(orig):
            def read_parquet_immutable(spark, path):
                before = len(parquet._PLAN_MEMO)
                with tracer.span("sources.parquet.read", path=path) as rec:
                    df = orig(spark, path)
                rec["miss"] = len(parquet._PLAN_MEMO) > before
                return df

            return read_parquet_immutable

        def wave_wrapper(kind):
            def wrap(orig):
                def wave(*items):
                    with tracer.span("operators.concurrency.wave", kind=kind, width=len(items)):
                        return orig(*items)

                return wave

            return wrap

        def ckpt_wrapper(orig):
            def localCheckpoint(df, *args, **kwargs):
                with tracer.span("materialize.ckpt"):
                    return orig(df, *args, **kwargs)

            return localCheckpoint

        self._patch(parquet, "read_parquet_immutable", read_wrapper)
        self._patch(concurrency, "ckpt_wave", wave_wrapper("ckpt_wave"))
        self._patch(concurrency, "run_concurrent", wave_wrapper("run_concurrent"))
        self._patch(type(self.spark.range(1)), "localCheckpoint", ckpt_wrapper)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- Spark status store ----------------------------------------------
    def jobs(self, group: str) -> list[dict]:
        """Every job of ``group`` with its JVM-clock interval (seconds)
        and the summed metrics of the stages it actually ran."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = []
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            jd = store.job(jid)
            sub = jd.submissionTime()
            done = jd.completionTime()
            if not sub.isDefined() or not done.isDefined():
                continue
            rec = {
                "job": jid,
                "start": sub.get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0,
                "stages": 0,
                "tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "shuffle_read_b": 0,
                "shuffle_write_b": 0,
                "input_b": 0,
                "output_b": 0,
            }
            for sid in tracker.getJobInfo(jid).stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage never submitted: nothing ran
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += sd.numCompleteTasks()
                rec["run_s"] += sd.executorRunTime() / 1e3
                rec["cpu_s"] += sd.executorCpuTime() / 1e9
                rec["shuffle_read_b"] += sd.shuffleReadBytes()
                rec["shuffle_write_b"] += sd.shuffleWriteBytes()
                rec["input_b"] += sd.inputBytes()
                rec["output_b"] += sd.outputBytes()
            out.append(rec)
        return out

    def storage_mb(self) -> float:
        """Block-manager storage (memory + disk) still held by RDDs."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / 1e6


def layer_record(tracer: Tracer, qid: str, t_call: float, t_built: float,
                 t_done: float, cores: int) -> dict:
    """Per-layer numbers of one finished query, from its spans and jobs;
    records the query's ``query``/``builder``/``plan``/``exec`` and
    ``spark.job`` spans.

    builder = the query function's call to its return; plan = the
    terminal action's call (right after) to the submission of its first
    job; exec = that submission to the action's return. A terminal
    action that launches no job is all plan. Job times come from the
    JVM clock in whole milliseconds, so a submission is clamped into
    the action's interval."""
    jobs = tracer.jobs(qid)
    builder_jobs = [j for j in jobs if j["start"] < t_built]
    exec_jobs = [j for j in jobs if j["start"] >= t_built]
    first_exec = min((j["start"] for j in exec_jobs), default=t_done)
    first_exec = min(max(first_exec, t_built), t_done)
    builder_s = t_built - t_call
    tracer.add("query", qid, t_call, t_done, None)
    tracer.add("builder", qid, t_call, t_built, "query")
    tracer.add("plan", qid, t_built, first_exec, "query")
    tracer.add("exec", qid, first_exec, t_done, "query")
    for j in jobs:
        tracer.add("spark.job", qid, j["start"], j["end"],
                   "builder" if j in builder_jobs else "exec",
                   **{k: v for k, v in j.items() if k not in ("start", "end")})
    busy = _union([(j["start"], j["end"]) for j in builder_jobs], t_call, t_built)

    reads = tracer.query_spans(qid, "sources.parquet.read")
    waves = tracer.query_spans(qid, "operators.concurrency.wave")
    ckpts = tracer.query_spans(qid, "materialize.ckpt")
    wave_iv = [(w["start"], w["end"]) for w in waves]
    wave_s = _union(wave_iv)
    in_wave = [
        j for j in jobs if any(a <= j["start"] < b for a, b in wave_iv)
    ]
    wall = t_done - t_call
    return {
        "wall_s": wall,
        "builder.s": builder_s,
        "builder.jobs": len(builder_jobs),
        "builder.idle_s": builder_s - busy,
        "plan.s": first_exec - t_built,
        "exec.s": t_done - first_exec,
        "exec.jobs": len(exec_jobs),
        "sources.parquet.reads": len(reads),
        "sources.parquet.memo_misses": sum(1 for r in reads if r.get("miss")),
        "sources.parquet.read_s": _union([(r["start"], r["end"]) for r in reads]),
        "operators.concurrency.waves": len(waves),
        "operators.concurrency.wave_s": wave_s,
        "operators.concurrency.job_s": sum(j["end"] - j["start"] for j in in_wave),
        "materialize.calls": len(ckpts),
        "materialize.s": _union([(c["start"], c["end"]) for c in ckpts]),
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.executor_run_s": sum(j["run_s"] for j in jobs),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "spark.shuffle_read_mb": sum(j["shuffle_read_b"] for j in jobs) / 1e6,
        "spark.shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / 1e6,
        "spark.input_mb": sum(j["input_b"] for j in jobs) / 1e6,
        "spark.output_mb": sum(j["output_b"] for j in jobs) / 1e6,
        "spark.core_s": cores * wall,
    }
