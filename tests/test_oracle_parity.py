"""Every queries() entry must hash-match its oracle_sql() twin — the
local sf0.001 replica of the driver's sf0.01 correctness gate."""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE
from .oracle_check import compare, duckdb_conn


def _workload():
    from hubsit_health_analytics_etl_spark import workload

    return workload


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_SMOKE)
    yield c
    c.close()


def _names():
    w = _workload()
    return sorted(w.ORACLES.keys())


def _assert_driver_contract(name, df):
    """Top-level columns are hashable scalars only
    (plans/lint.py::lint_driver_output) — a raw array/map/struct
    column crashes the gate's pandas canonicalizer (the r7
    embedding_pca_reduce failure; VERDICT r7 next-item #2)."""
    from hubsit_health_analytics_etl_spark.plans.lint import lint_driver_output

    findings = lint_driver_output(df)
    assert not findings, f"{name}: {[x.detail for x in findings]}"


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, con, name):
    w = _workload()
    df = w.QUERIES[name](spark, SF_SMOKE)
    _assert_driver_contract(name, df)
    problems = compare(df, con, w.ORACLES[name], name)
    assert not problems, "\n".join(problems)


def test_all_queries_return_rows_and_driver_contract(spark):
    """Every registered query must (a) evaluate, and (b) satisfy the
    driver-output contract. test_query_matches_oracle holds every
    oracle-checked query to both, so this loop builds only the
    queries with no oracle."""
    w = _workload()
    for name in [n for n in w.QUERIES if n not in w.ORACLES]:
        df = w.QUERIES[name](spark, SF_SMOKE)
        _assert_driver_contract(name, df)
        n = df.count()
        assert n >= 0, name


def test_driver_contract_rejects_nested_columns(spark):
    """The contract checker itself must flag every nested top-level
    type (so reintroducing the r7 embedding_pca_reduce shape fails the
    ride-along above) and pass scalar signature columns."""
    from hubsit_health_analytics_etl_spark.plans.lint import lint_driver_output

    bad = spark.sql(
        "SELECT 1 AS id, array(1.0f, 2.0f) AS reduced, "
        "map('a', 1) AS m, named_struct('x', 1) AS s"
    )
    codes = {f.code for f in lint_driver_output(bad)}
    assert codes == {"nested-output-column"}
    assert len(lint_driver_output(bad)) == 3

    good = spark.sql("SELECT 1 AS id, md5('x') AS sig, 0.5D AS score")
    assert lint_driver_output(good) == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))


def test_gate_rotation_puts_stalest_queries_first():
    """The driver CORRECTNESS gate samples the first 50 queries()
    entries; _rotation_order must front-load queries that the committed
    CORRECTNESS_r*.json artifacts have never (or least recently)
    covered, so the gate sweeps the whole surface across rounds."""
    import glob
    import json
    import os

    import __spark_entry__ as e

    w = _workload()
    names = list(e.queries())
    assert set(names) == set(w.QUERIES), "rotation must not drop queries"

    covered_last = {}
    here = os.path.dirname(os.path.abspath(e.__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int("".join(ch for ch in os.path.basename(path) if ch.isdigit()))
        with open(path) as f:
            for n, rec in json.load(f).items():
                if isinstance(rec, dict):
                    err = rec.get("err")
                    rows_only_ok = (
                        err == "no_oracle"
                        and rec.get("spark_rows") is not None
                    )
                    if (err is not None and not rows_only_ok) or rec.get(
                        "hash_match"
                    ) is False:
                        continue  # failures don't count as checked
                covered_last[n] = max(covered_last.get(n, -1), rnd)
    if not covered_last:
        return  # fresh clone without artifacts: any order is fine
    never = [n for n in w.QUERIES if covered_last.get(n, -1) < 0]
    # every never-covered query sorts BEFORE every previously-passed
    # one; when a round adds more than 50 new queries the 50-sample
    # cannot hold them all (r13 session 2 did exactly that), so the
    # containment assertion applies only while the pool fits — the
    # overflow sweeps in on the next window by the same ordering
    if len(never) <= 50:
        assert all(names.index(n) < 50 for n in never), (
            f"never-driver-checked queries outside the first 50: "
            f"{[n for n in never if names.index(n) >= 50]}"
        )
    else:
        first = set(names[: len(never)])
        assert first == set(never), (
            "never-driver-checked queries must all precede checked ones"
        )
    # and the order must be monotone in last-covered round
    rounds = [covered_last.get(n, -1) for n in names]
    assert rounds == sorted(rounds)


def test_gate_rotation_treats_failures_as_unchecked(tmp_path):
    """A query whose artifact row records a failure (hash_match=false
    or a real non-null err) must sort as never-checked, staying inside
    the driver's 50-sample window until a PASSING row lands — otherwise
    a regression rotates itself out of the gate for several rounds.

    A driver rows-only verdict (err == "no_oracle" with a spark_rows
    count — the documented record for ML-fit queries that deliberately
    have no DuckDB oracle) DOES count as checked: before r12 it was
    treated as a failure, so the 5 rows-only queries re-occupied 10% of
    every 50-slot gate window since r8 (VERDICT r11 item #1)."""
    import json

    import __spark_entry__ as e

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    # exact shape the driver writes for a rows-only (no-oracle) query
    rows_only = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "spark_rows": 1,
                 "oracle_rows": None, "err": "no_oracle"}
    bad_hash = dict(ok, hash_match=False)
    bad_err = dict(ok, err="boom")
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "passed": ok, "failed_hash": bad_hash,
        "failed_err": bad_err, "no_oracle": rows_only,
    }))
    names = ["passed", "failed_hash", "failed_err", "no_oracle", "fresh"]
    order = e._rotation_order(names, artifact_dir=str(tmp_path))
    # failures + never-seen first (registration order), checked last —
    # the prior-round no_oracle row must NOT resurface ahead of
    # never-checked queries
    assert order == ["failed_hash", "failed_err", "fresh",
                     "passed", "no_oracle"]


def test_gate_rotation_rows_only_goes_stale_like_any_pass(tmp_path):
    """A rows-only verdict is checked *at that round*: a query whose
    no_oracle row is older than another query's pass row must still
    rotate back toward the front (staleness ordering applies to both
    verdict kinds identically)."""
    import json

    import __spark_entry__ as e

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    rows_only = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "spark_rows": 1,
                 "oracle_rows": None, "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"ml_fit": rows_only}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"oracle_q": ok}))
    order = e._rotation_order(["oracle_q", "ml_fit"],
                              artifact_dir=str(tmp_path))
    assert order == ["ml_fit", "oracle_q"]


def test_gate_rotation_r13_window_leads_with_stalest_rounds():
    """VERDICT r12 #6: the next driver window must lead with the
    queries whose last gate pass is OLDEST (18 were last checked in
    r9 at the r12 close) plus everything never checked (this round's
    new queries). Data-driven: every query at least two rounds staler
    than the newest artifact must sit inside the driver's 50-sample
    window — as long as the stale set itself fits in 50."""
    import glob
    import json
    import os

    import __spark_entry__ as e

    w = _workload()
    names = list(e.queries())

    covered_last = {}
    max_round = -1
    here = os.path.dirname(os.path.abspath(e.__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int("".join(ch for ch in os.path.basename(path) if ch.isdigit()))
        max_round = max(max_round, rnd)
        with open(path) as f:
            for n, rec in json.load(f).items():
                if isinstance(rec, dict):
                    err = rec.get("err")
                    rows_only_ok = (
                        err == "no_oracle"
                        and rec.get("spark_rows") is not None
                    )
                    if (err is not None and not rows_only_ok) or rec.get(
                        "hash_match"
                    ) is False:
                        continue
                covered_last[n] = max(covered_last.get(n, -1), rnd)
    if max_round < 0:
        return  # fresh clone
    stale = [
        n for n in w.QUERIES if covered_last.get(n, -1) <= max_round - 2
    ]
    if len(stale) > 50:
        return  # window can't fit them all; monotonicity test governs
    missing = [n for n in stale if names.index(n) >= 50]
    assert not missing, (
        f"stale queries outside the 50-sample driver window: {missing}"
    )
