"""Output checks for benchmark queries, run outside the timed interval.

Each query's collected output is compared with its DuckDB oracle
through the repository's own ``tests/oracle_check.compare`` (sorted
columns, sorted rows, values exact after the workload's rounding).

An oracle's result depends only on its SQL text, the fixture files and
the DuckDB version, so it is computed once per checkout and kept under
``.perfbench_work/oracles``; every run still compares every output.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path


class _Collected:
    """The already-collected output, in the shape ``compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class _Fetched:
    def __init__(self, pdf):
        self._pdf = pdf

    def fetchdf(self):
        return self._pdf


class _CachedOracles:
    """The ``execute(sql).fetchdf()`` surface ``compare`` uses, answered
    from the cache or, on a miss, from DuckDB (then cached)."""

    def __init__(self, con, cache_dir: Path, data_key: str):
        self.con = con
        self.cache_dir = cache_dir
        self.data_key = data_key

    def execute(self, sql: str) -> _Fetched:
        import pandas as pd

        digest = hashlib.sha256((self.data_key + "\0" + sql).encode()).hexdigest()
        path = self.cache_dir / f"{digest}.pkl"
        if path.exists():
            return _Fetched(pd.read_pickle(path))
        pdf = self.con.execute(sql).fetchdf()
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        pdf.to_pickle(tmp)
        os.replace(tmp, path)
        return _Fetched(pdf)


class Checker:
    """Checks one query's collected output against its oracle.

    ``oracles`` maps query name to oracle SQL; a query without one
    fails its check."""

    def __init__(self, sf_dir: str, oracles: dict[str, str], cache_dir: Path):
        import duckdb

        from tests.oracle_check import duckdb_conn

        self.con = duckdb_conn(sf_dir)
        files = sorted(Path(sf_dir).glob("*.parquet"))
        data_key = repr((duckdb.__version__, [(f.name, hashlib.sha256(f.read_bytes()).hexdigest()) for f in files]))
        self.oracle_results = _CachedOracles(self.con, cache_dir, data_key)
        self.oracles = oracles

    def check(self, name: str, pdf) -> str | None:
        """Return a problem description, or ``None`` when the output is correct."""
        from tests.oracle_check import compare

        if name not in self.oracles:
            return f"{name}: no oracle"
        problems = compare(_Collected(pdf), self.oracle_results, self.oracles[name], name)
        return problems[0][:500] if problems else None

    def close(self) -> None:
        self.con.close()
