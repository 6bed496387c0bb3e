"""Materialization and driver-side concurrency for independent Spark
actions (guide §2.6).

``materialize`` is the package's one checkpoint call: every operator
that truncates lineage goes through it, and the SESSION decides the
mode. With a checkpoint directory set on the SparkContext (a
deployment path on durable storage, ``setCheckpointDir``) every
materialization is a RELIABLE ``checkpoint`` that survives executor
loss; without one it is an executor-local ``localCheckpoint`` — fast,
lost with its executor, right for bench and tests. No operator takes
a mode parameter.

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially. Two latency sources motivate this module:

- ``materialize(df)`` (a lazy checkpoint) is NOT free at call time:
  under AQE, compiling the checkpoint executes every exchange stage of
  its subplan synchronously (``AdaptiveSparkPlanExec.execute`` →
  ``getFinalPhysicalPlan`` materializes all query stages; only the
  result stage stays lazy). A driver function that builds k
  checkpointed frames therefore runs k job cascades strictly
  back-to-back, and at fixture scale the wall clock is dominated by
  between-job planning latency, not compute — measured r17: the w18
  splice trio ran FASTER on 8 cores than on 32 (PERF_r17 scaling
  ratios 0.75–0.85), the signature of driver-sequenced tiny jobs.
- Independent writes/counts (e.g. persisting the two halves of an IVF
  index) serialize the same way.

``ckpt_wave`` / ``run_concurrent`` submit the independent pieces from
a small thread pool so their jobs overlap: as one job's tail drains,
the next job's tasks back-fill the freed cores, and the driver-side
planning of one branch hides under the execution of another. Job
group / description thread-locals and session tags are inherited via
``inheritable_thread_target(session)`` — also by waves nested inside
a wave thread — so UI labels and per-group job accounting
(bench_profile.py) stay correct.

Semantics are UNCHANGED by construction: every frame/thunk is
independent of its wave-mates (callers assert that by choosing the
wave), each ``materialize`` call produces the exact DataFrame the
sequential code produced, and exceptions propagate eagerly through
``Future.result()``. This is concurrency of *scheduling*, not any
form of caching — every run still computes from the parquet inputs.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# A wave is a handful of sibling frames; bound the pool so a wide wave
# on a small cluster cannot flood the scheduler (2-3 jobs in flight is
# the guide's back-fill sweet spot; waves here are ≤ ~6).
MAX_WAVE_POOL = 8


def _inherit(fn: Callable[..., T]) -> Callable[..., T]:
    """Wrap ``fn`` so the child thread inherits the caller's JVM-local
    properties AND session tags. ``active()`` falls back to the default
    session on a pool thread, where no session is active, so nested
    waves keep the tags too."""
    return inheritable_thread_target(SparkSession.active())(fn)


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` so later plans start from its materialized
    blocks instead of re-running its lineage — reliable ``checkpoint``
    when the session has a checkpoint directory, ``localCheckpoint``
    otherwise. ``eager`` runs the job now; lazy writes the blocks on
    the first action that reads them. Chains use
    ``df.transform(materialize)`` / ``.transform(materialize,
    eager=True)``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def ckpt_wave(*dfs: DataFrame) -> tuple[DataFrame, ...]:
    """``materialize`` several INDEPENDENT frames (lazily)
    concurrently and return them in order.

    Each checkpoint call synchronously materializes its subplan's AQE
    shuffle stages, so sequential calls serialize those job cascades;
    one wave overlaps them. Only frames with no dataflow dependency on
    each other may share a wave (a dependent frame would simply
    recompute its parent's plan — correct, but wasteful)."""
    if not dfs:
        return ()
    if len(dfs) == 1:
        return (materialize(dfs[0]),)
    with ThreadPoolExecutor(max_workers=min(len(dfs), MAX_WAVE_POOL)) as pool:
        futs = [pool.submit(_inherit(materialize), d) for d in dfs]
        return tuple(f.result() for f in futs)


def run_concurrent(*thunks: Callable[[], T]) -> list[T]:
    """Run independent driver-side thunks (each may build plans, submit
    jobs, write, count) concurrently; return their results in call
    order. Exceptions re-raise on the calling thread (fail loudly)."""
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=min(len(thunks), MAX_WAVE_POOL)) as pool:
        futs = [pool.submit(_inherit(t)) for t in thunks]
        return [f.result() for f in futs]
