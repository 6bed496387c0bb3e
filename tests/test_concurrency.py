"""operators/concurrency.py — driver-side waves: results come back in
call order, a failing branch fails the caller, and session tags reach
every thread of a wave, nested waves included."""

from __future__ import annotations

import time
import warnings

import pytest
from pyspark.sql import SparkSession

from hubsit_health_analytics_etl_spark.operators.concurrency import (
    ckpt_wave,
    run_concurrent,
)


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
