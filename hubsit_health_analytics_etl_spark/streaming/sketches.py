"""Streaming count-min sketch maintenance — the live-ingest twin of
the batch ``cms_new_batch`` query (w12_retrieval_sketches.py): every arriving
micro-batch is reduced to its own depth×width counter grid and written
as one index subdirectory; the live sketch is the cell-wise SUM over
all batch grids, exact because count-min grids are elementwise-additive
over disjoint slices (operators/sketches.py).

The reference has no streaming surface (batch pandas job,
/root/reference/src/etl_pipeline.py:692-712); this module is EXT,
the frequency-sketch member of the persisted-index sink family
(incremental_dedup.signature_index_sink, incremental_ann.ivf_index_sink).

Scale design: per-batch state written to the index is ≤ depth×width
rows regardless of batch size — the sink's write cost is CONSTANT, and
reading the live sketch aggregates #batches·depth·width counter rows,
never raw events. When #batches grows large, compact by rewriting the
summed grid as a single base subdirectory (the grid is its own
checkpoint — additivity makes compaction a plain re-sum).

Replay idempotence: each grid lands under ``batch-<id>`` with
overwrite, so a crash-redelivered micro-batch rewrites its own cells
instead of double-counting them.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_counters
from .incremental_dedup import _read_index

_GRID_SCHEMA = "row_i int, bucket bigint, c bigint"


def cms_grid_sink(
    index_dir: str,
    key_col: str = "user_id",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable maintaining a count-min grid index:

        stream.writeStream.foreachBatch(cms_grid_sink(index)).start()

    Per micro-batch: sketch the batch (map-side fan-out + partial agg
    to ≤ depth×width rows) and overwrite ``index_dir/batch-<id>``."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        grid = cms_counters(batch.select(key_col), key_col, depth, width)
        grid.write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch-{batch_id}")
        )

    return _apply


def read_cms_grid(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live sketch: cell-wise sum of every batch grid in the index
    (empty relation if nothing has arrived). Feed it to
    operators/sketches.py::cms_estimate to probe."""
    g = _read_index(spark, index_dir, _GRID_SCHEMA)
    return g.groupBy("row_i", "bucket").agg(
        F.sum("c").cast("bigint").alias("c")
    )


_HIST_SCHEMA = "bin int, cnt bigint"


def value_histogram_sink(
    index_dir: str,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1000.0,
    bins: int = 256,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable maintaining the mergeable QUANTILE
    index (operators/sketches.py::value_histogram — the percentile
    member of this sink family): per micro-batch, reduce the batch to
    its ≤ ``bins``-row fixed-bin histogram and overwrite
    ``index_dir/batch-<id>``. Same constant-cost / replay-idempotent
    contract as cms_grid_sink; bounds are frozen LITERALS by
    construction (they are baked into this sink at start), so every
    batch histogram is mergeable with every other forever."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from ..operators.sketches import value_histogram

        hist = value_histogram(batch, value_col, lo, hi, bins)
        hist.write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch-{batch_id}")
        )

    return _apply


def read_value_histogram(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live histogram: bin-wise sum of every batch histogram
    (empty relation if nothing has arrived). Feed it to
    operators/sketches.py::histogram_quantiles for live percentiles —
    reading aggregates #batches·bins rows, never raw values."""
    h = _read_index(spark, index_dir, _HIST_SCHEMA)
    return h.groupBy("bin").agg(F.sum("cnt").cast("bigint").alias("cnt"))


_MOMENTS_SCHEMA = "key bigint, n bigint, sx bigint, sxx bigint"


def moments_sink(
    index_dir: str,
    key_col: str = "user_id",
    value_col: str = "value",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable maintaining the per-key sufficient-
    statistics index (n, Σx, Σx²) behind the integer z-score detector
    (w11_warehouse_ops.q_user_value_outliers): values become exact u2
    fixed-point integers and each micro-batch reduces to one triple
    per key it touched — per-batch state ∝ batch's distinct keys,
    triples ADD across batches (the moments member of this sink
    family, next to the CMS grid and the value histogram). Same
    ``batch-<id>`` overwrite contract: replay rewrites, never
    double-counts."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from ..operators.sketches import moments_triples

        moments_triples(batch, key_col, value_col).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, f"batch-{batch_id}"))

    return _apply


def read_moments(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live per-key moments: triple-wise sum over every batch
    (empty relation if nothing has arrived). Anomaly scoring joins a
    probe stream against this and runs the division-free z-test —
    no raw history is ever re-read. Batch twin of the whole lifecycle
    (build/merge/forget/z-test) lives in operators/sketches.py and is
    oracle-checked by moments_new_batch / moments_forget."""
    from ..operators.sketches import moments_merge

    return moments_merge(_read_index(spark, index_dir, _MOMENTS_SCHEMA))


def theta_sketch_sink(
    index_dir: str,
    group_cols: "list[str]",
    value_col: str,
    k: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable maintaining the per-group theta/KMV
    distinct sketch (operators/theta.py — the set-algebra member of
    this sink family): each micro-batch reduces to one ≤k-hash array
    per group it touched and overwrites ``index_dir/batch-<id>``.
    Per-batch state ∝ batch's distinct groups × k; batch sketches
    union-merge EXACTLY (bottom-k of combined samples == bottom-k of
    the union), so the live sketch equals a one-shot build. Same
    replay contract: re-delivery rewrites its own subdirectory.
    The build prefilter is skipped (a micro-batch's distinct values
    are already small; the HLL-probe lever is the BATCH build's)."""
    from ..operators.theta import THETA_K, theta_sketch

    kk = THETA_K if k is None else k

    def _apply(batch: DataFrame, batch_id: int) -> None:
        theta_sketch(batch, group_cols, value_col, k=kk, prefilter=False).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, f"batch-{batch_id}"))

    return _apply


def read_theta_sketch(
    spark: SparkSession,
    index_dir: str,
    group_cols: "list[str]",
    schema: str,
    k: int | None = None,
) -> DataFrame:
    """The live per-group sketch: exact-law rollup merge over every
    batch sketch (empty relation if nothing has arrived). ``schema``
    states the group columns + ``hs array<bigint>``. Feed it to
    operators/theta.py::theta_estimate / theta_set_ops — estimates,
    intersections, and A-not-B all run over index rows, never raw
    history."""
    from ..operators.theta import THETA_K, theta_rollup

    kk = THETA_K if k is None else k
    return theta_rollup(_read_index(spark, index_dir, schema), group_cols, k=kk)
