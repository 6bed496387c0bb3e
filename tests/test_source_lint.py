"""Source-level lint gates over the package: no dev-box partition-count
literals in query bodies (VERDICT r13 #6) — cluster fan-out comes from
defaultParallelism/AQE, and deliberate file-count scenarios carry an
explicit '# lint: fixture-files' justification marker; every
checkpoint goes through the one ``materialize`` primitive; no code
reaches for ``df.rdd``; and every temporary directory comes from the
one run-scoped helper."""

from __future__ import annotations

import ast
import glob
import os
import subprocess
import sys

from hubsit_health_analytics_etl_spark.plans.lint import (
    Finding,
    lint_source_fixture_constants,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "hubsit_health_analytics_etl_spark",
)


def _workload_sources() -> list[str]:
    paths = sorted(
        glob.glob(os.path.join(PKG, "workload*.py"))
        + glob.glob(os.path.join(PKG, "workloads", "*.py"))
    )
    assert len(paths) >= 19  # workload, package __init__, _shared, 20 families
    return paths


def test_no_literal_core_counts_in_workloads() -> None:
    bad: list[str] = []
    for path in _workload_sources():
        with open(path) as f:
            findings = lint_source_fixture_constants(f.read())
        bad += [f"{os.path.basename(path)}: {x.detail}" for x in findings]
    assert bad == [], "\n".join(bad)


def test_lint_rule_fires_on_literal_and_respects_marker() -> None:
    hit = lint_source_fixture_constants("df = df.repartition(32)\n")
    assert [f.code for f in hit] == ["literal-core-count"]
    assert isinstance(hit[0], Finding) and hit[0].severity == "error"
    # same-line and previous-line markers both opt out
    assert (
        lint_source_fixture_constants(
            "df.repartition(64)  # lint: fixture-files\n"
        )
        == []
    )
    assert (
        lint_source_fixture_constants(
            "# lint: fixture-files — scenario\ndf.repartition(8, 'k')\n"
        )
        == []
    )
    # keyed/dynamic repartition without a literal is fine
    assert lint_source_fixture_constants("df.repartition('k')\n") == []
    assert (
        lint_source_fixture_constants(
            "df.repartition(spark.sparkContext.defaultParallelism)\n"
        )
        == []
    )
    # commented-out code does not fire
    assert lint_source_fixture_constants("# df.repartition(32)\n") == []


def _package_sites(hit) -> list[str]:
    """``file::function`` of every AST node in the package for which
    ``hit(node)`` is true."""
    sites: list[str] = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read())
        # innermost enclosing function: ast.walk is breadth-first, so a
        # nested def overwrites its parent's entry
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner.update((node, fn.name) for node in ast.walk(fn))
        sites += [
            f"{os.path.relpath(path, PKG)}::{owner.get(node)}"
            for node in ast.walk(tree)
            if hit(node)
        ]
    return sites


def _calls(*names: str):
    return lambda node: isinstance(node, ast.Call) and (
        getattr(node.func, "attr", None) in names
        or getattr(node.func, "id", None) in names
    )


def test_checkpoints_only_inside_materialize() -> None:
    """``operators/concurrency.py::materialize`` is the package's only
    ``localCheckpoint``/``checkpoint`` call, so the session's
    local-vs-reliable policy reaches every materialization."""
    sites = _package_sites(_calls("localCheckpoint", "checkpoint"))
    # one reliable and one local branch
    assert sites == ["operators/concurrency.py::materialize"] * 2, sites


def test_no_rdd_partition_probes() -> None:
    """No ``.rdd`` access anywhere in the package: ``df.rdd`` physically
    plans the frame and, under AQE, runs its exchanges as hidden jobs.
    Spread decisions read source metadata (``sources/parquet.py::spread``)."""
    sites = _package_sites(
        lambda node: isinstance(node, ast.Attribute) and node.attr == "rdd"
    )
    assert sites == [], sites


def test_temp_dirs_only_from_the_run_root() -> None:
    """Every temporary directory the package makes lives under the one
    process-scoped root that ``workloads/w02_dedup.py`` removes at
    exit: ``mkdtemp`` is called only by the root and the run-scoped
    index-dir helper."""
    sites = _package_sites(_calls("mkdtemp", "mkstemp", "TemporaryDirectory"))
    assert sorted(sites) == [
        "workloads/w02_dedup.py::_run_root",
        "workloads/w02_dedup.py::_run_scoped_index_dir",
    ], sites


def test_run_scoped_dirs_removed_at_exit(tmp_path) -> None:
    """A process that makes run-scoped index directories (and writes
    into them) leaves nothing in the temp directory once it exits."""
    code = (
        "from hubsit_health_analytics_etl_spark.workloads.w02_dedup import "
        "_run_scoped_index_dir as d\n"
        "a, b = d('probe'), d('probe')\n"
        "assert a != b\n"
        "open(a + '/part-0.parquet', 'w').write('x')\n"
        "print(a)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(PKG),
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert out.startswith(str(tmp_path)), out
    assert list(tmp_path.iterdir()) == []
