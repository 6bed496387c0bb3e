"""Parquet fixture loaders (TESTDATA.md tables).

Parquet is the engine's native storage (column pruning + predicate
pushdown + partition pruning for free); CSV only at the ingest/export
edges (see csv_tolerant.py / sinks.py), mirroring but upgrading the
reference's CSV-everywhere model (/root/reference/src/etl_pipeline.py:85-161).
"""

from __future__ import annotations

import threading
from itertools import accumulate
from urllib.parse import unquote, urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import apply_runtime_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Plan memo for IMMUTABLE parquet paths, keyed by (applicationId,
# path): every spark.read.parquet() call launches a ~100 ms 1-task
# schema-inference job even for a path the session already read —
# across 236 bench queries × 1-4 load_table calls each (plus the
# standing-index re-reads in the lifecycle queries) that is tens of
# seconds of pure driver-side footer jobs. Reusing the LOGICAL PLAN is
# not result caching: no .cache()/persist is involved, every action
# still scans the parquet files — only the redundant footer/schema
# re-inference is skipped. Valid ONLY for immutable paths (the
# read-only /root/testdata fixtures; versioned-table data dirs, which
# are write-once per version by construction) because the plan pins
# the file listing captured at first read. Each entry carries the
# directory-listing fingerprint captured at memo time; a hit whose
# listing changed (a caller violating the write-once contract) is
# evicted and re-read instead of being served stale (VERDICT r17 #6).
# Wave threads read concurrently: every lookup, eviction and insert
# holds _PLAN_MEMO_LOCK, the parquet read itself does not.
_PLAN_MEMO: dict[tuple[str, str], "tuple[DataFrame, object]"] = {}
_PLAN_MEMO_CAP = 4096
_PLAN_MEMO_LOCK = threading.Lock()


def _listing_fp(path: str):
    """Cheap immutability probe for LOCAL paths: (name, size, mtime_ns)
    of every directory entry, or the file's own stat for a single-file
    path. Python-side stat only — no Spark job, ~tens of µs. Returns
    ``None`` for non-local schemes (object stores list remotely; there
    the write-once contract is enforced by the versioned-commit layout
    alone) and for vanished paths (the read itself will fail loudly)."""
    import os

    p = path
    if "://" in p:
        if not p.startswith("file:"):
            return None
        p = p[len("file:"):].lstrip("/")
        p = "/" + p
    try:
        if os.path.isdir(p):
            with os.scandir(p) as it:
                return tuple(
                    sorted(
                        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                        for e in it
                    )
                )
        st = os.stat(p)
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return None


def read_parquet_immutable(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the plan memoized per
    (session, path). Callers must only pass paths whose file set can
    never change (fixture tables, committed version data dirs); a
    local path observed to have changed anyway is re-read, never
    served from the stale plan."""
    key = (spark.sparkContext.applicationId, path)
    # taken before the read: a listing that changes during the read
    # fails the next hit's check and re-reads
    fp = _listing_fp(path)
    with _PLAN_MEMO_LOCK:
        if len(_PLAN_MEMO) > _PLAN_MEMO_CAP:
            # evict stopped sessions' entries first (they pin dead
            # DataFrames — ADVICE r17), on hits too; clear outright only
            # if one live session alone overflowed the cap
            for k in [k for k in _PLAN_MEMO if k[0] != key[0]]:
                del _PLAN_MEMO[k]
            if len(_PLAN_MEMO) > _PLAN_MEMO_CAP:
                _PLAN_MEMO.clear()
        got = _PLAN_MEMO.get(key)
        if got is not None:
            if got[1] == fp:
                return got[0]
            del _PLAN_MEMO[key]  # contract violation — do not serve stale
    df = spark.read.parquet(path)
    with _PLAN_MEMO_LOCK:
        _PLAN_MEMO[key] = (df, fp)
    return df


def _row_groups(uri: str) -> int:
    """Row groups in one parquet file; 1 when pyarrow cannot open it."""
    import pyarrow.parquet as pq

    u = urlparse(uri)
    if u.scheme not in ("", "file"):
        return 1
    try:
        return pq.read_metadata(unquote(u.path)).num_row_groups
    except (OSError, ValueError):  # missing, unreadable, not parquet
        return 1


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow input out before expensive per-row compute: a small
    corpus is one parquet row group, read as one task. With ``n`` =
    ``spark.sql.shuffle.partitions``, ``df.repartition(n)`` when the
    files behind ``df.inputFiles()`` hold fewer than ``n`` row groups;
    ``df`` itself otherwise (every corpus scan at scale) and for a
    frame with no file input. Reads parquet footers only: no job, no
    physical planning."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    files = df.inputFiles()
    if not files or any(t >= n for t in accumulate(map(_row_groups, files))):
        return df
    return df.repartition(n)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes events.ts to timestamp_ntz
    truncated to microseconds exactly like DuckDB's ns→us cast.

    events.parquet stores TIMESTAMP(NANOS). Spark ≤4.0 under
    ``nanosAsLong`` surfaces it as ``bigint`` ns (converted here);
    Spark 4.1+ ignores that conf and reads ``timestamp_ntz`` natively
    (already µs-truncated), so the guard is a no-op there — both paths
    yield identical values."""
    apply_runtime_confs(spark)
    df = read_parquet_immutable(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
