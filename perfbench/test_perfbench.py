"""Tests of the benchmark itself: frozen membership fails loudly, the
tail rule, and a wrong expectation counts toward ``failed_frac``.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

import run

BENCH = Path(__file__).resolve().parent


def test_membership_is_frozen_and_checked():
    spec = run.load_workloads()
    from hubsit_health_analytics_etl_spark import workload as wl

    run.validate(spec, wl.QUERIES, wl.ORACLES)  # the committed lists are valid
    assert set(spec["workloads"]) == {"single_plan", "iterative", "lifecycle"}

    bad = {"warmup_queries": spec["warmup_queries"], "workloads": {"w": {"queries": ["no_such_query"]}}}
    with pytest.raises(run.BenchError, match="no_such_query"):
        run.validate(bad, wl.QUERIES, wl.ORACLES)

    member = spec["workloads"]["single_plan"]["queries"][0]
    warm_member = {"warmup_queries": [member], "workloads": {"w": {"queries": [member]}}}
    with pytest.raises(run.BenchError, match="timed member"):
        run.validate(warm_member, wl.QUERIES, wl.ORACLES)


def test_benchmark_json_names_the_workloads():
    with open(BENCH.parent / "BENCHMARK.json") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.load_workloads()["workloads"])
    assert {m["name"] for m in bench["end_to_end"]} == set(run.E2E_GATED)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: u for k, u in run.LAYER_UNITS.items() if k not in run.LAYER_REPORTED_ONLY
    }


def test_tail_needs_ten_samples_beyond_and_lies_above_the_median():
    assert run.tail_latency([1.0] * 20) is None
    lat = [float(i) for i in range(1, 101)]
    tail = run.tail_latency(lat)
    assert tail == {"value": 90.0, "percentile": 90.0, "n": 100}
    assert sum(1 for x in lat if x > tail["value"]) == 10


def test_unknown_workload_exits_nonzero_without_a_result():
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", "nope", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_wrong_expectation_is_counted_as_failed():
    from hubsit_health_analytics_etl_spark import workload as wl

    name = run.load_workloads()["workloads"]["single_plan"]["queries"][0]
    oracles = dict(wl.ORACLES)
    oracles[name] = "SELECT 1 AS wrong_column"
    record = run.run_workload("single_plan", seed=3, seconds=0, trace=False, oracles=oracles)
    summary = run.summarize(record)
    assert summary["failed"] == 1
    assert summary["report"]["failed_frac"]["value"] > 0
    assert not summary["correct"]
    assert summary["attempted"] == len(record["passes"][0]["runs"])
