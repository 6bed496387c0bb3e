"""operators/concurrency.py — driver-side waves: results come back in
call order, a failing branch fails the caller, and session tags reach
every thread of a wave, nested waves included. ``materialize`` is the
one checkpoint call, and a failing checkpoint fails its caller."""

from __future__ import annotations

import time
import warnings

import pytest
from pyspark.sql import SparkSession

from hubsit_health_analytics_etl_spark.operators.concurrency import (
    ckpt_wave,
    run_concurrent,
)

from .conftest import SF_SMOKE


def test_run_concurrent_returns_results_in_call_order(spark):
    def thunk(i):
        def run():
            time.sleep(0.05 * (3 - i))  # later thunks finish first
            return i

        return run

    assert run_concurrent(thunk(0), thunk(1), thunk(2), thunk(3)) == [0, 1, 2, 3]


def test_ckpt_wave_returns_frames_in_call_order(spark):
    frames = ckpt_wave(spark.range(3), spark.range(5), spark.range(7))
    assert [f.count() for f in frames] == [3, 5, 7]


def test_raising_thunk_reraises_on_caller(spark):
    def boom():
        raise ValueError("branch failed")

    with pytest.raises(ValueError, match="branch failed"):
        run_concurrent(lambda: 1, boom)


def test_nested_wave_inherits_caller_tag_without_warning(spark):
    def inner():
        return "t" in SparkSession.active().getTags()

    def outer():
        return run_concurrent(inner, inner)

    spark.addTag("t")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = run_concurrent(outer, outer)
    finally:
        spark.removeTag("t")
    assert got == [[True, True], [True, True]]
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


def _label_propagation(spark):
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        label_propagation,
    )

    seeds = spark.createDataFrame([(1, 1)], "node long, lab long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    return label_propagation(seeds, edges, 2)


def _ann_recall_at_k(spark):
    from hubsit_health_analytics_etl_spark.workloads.w05_clusters_ann import (
        q_ann_recall_at_k,
    )

    return q_ann_recall_at_k(spark, SF_SMOKE)


def _retrieval_ndcg_at_k(spark):
    from hubsit_health_analytics_etl_spark.workloads.w15_linkage_dsir import (
        q_retrieval_ndcg_at_k,
    )

    return q_retrieval_ndcg_at_k(spark, SF_SMOKE)


@pytest.mark.parametrize(
    "build", [_label_propagation, _ann_recall_at_k, _retrieval_ndcg_at_k]
)
def test_failed_checkpoint_fails_the_caller(spark, monkeypatch, build):
    """A checkpoint that fails must fail the operator at its FIRST
    call — no caller swallows the error or retries it as ``cache()``.
    Every checkpoint call raises here, so exactly one call before the
    error means the first failure surfaced where it happened."""
    calls = []

    def broken(df, *args, **kwargs):
        calls.append(df)
        raise RuntimeError("checkpoint failed")

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", broken)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        build(spark).collect()
    assert len(calls) == 1
