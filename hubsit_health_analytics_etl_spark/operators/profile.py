"""Data-quality profiling — SURVEY.md §2.5 A8.

The reference profiles 12 hand-listed columns with a Python loop of
full-table scans (/root/reference/src/etl_pipeline.py:316-362,598-625).
Generalized: ONE aggregate pass over any schema computes
(null-or-sentinel count, filled count) for every column
simultaneously, then a stack() unpivot turns the single wide row into
the long (coluna, ...) quality table. One scan at 100 TB, not
len(cols) scans.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .concurrency import materialize


def quality_profile(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    sentinel: str = "Indefinido",
    scale: int = 2,
) -> DataFrame:
    """Per-column completeness → long table
    (coluna, total, faltantes, preenchidos, pct_faltante, pct_preenchido).

    'Missing' = null, or equal to ``sentinel``, or (string) empty after
    trim — the reference's `isna() | isin(['Indefinido'])` rule
    (etl_pipeline.py:607-609).
    """
    cols = list(cols or df.columns)
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in cols:
        cond = F.col(c).isNull()
        if dtypes.get(c) == "string":
            cond = cond | (F.trim(F.col(c)) == "") | (F.col(c) == F.lit(sentinel))
        aggs.append(F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).alias(f"_m_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', `_m_{c}`" for c in cols)
    long = wide.select(
        F.col("_total").alias("total"),
        F.expr(f"stack({len(cols)}, {stack_args}) as (coluna, faltantes)"),
    )
    return long.select(
        "coluna",
        "total",
        "faltantes",
        (F.col("total") - F.col("faltantes")).alias("preenchidos"),
        F.round(F.col("faltantes") / F.col("total") * 100.0, scale).alias("pct_faltante"),
        F.round((F.col("total") - F.col("faltantes")) / F.col("total") * 100.0, scale).alias(
            "pct_preenchido"
        ),
    )


def event_stream_hygiene_audit(e: DataFrame) -> DataFrame:
    """Four stream-plausibility counters over an event frame with
    (user_id, ts, event_id, event_type, value): event-time inversions
    against ARRIVAL order (lag over event_id per user — catches a
    producer whose clock jumped), duplicate event ids (excess
    occurrences beyond the first), missing types, null/negative
    values. One row per check: (check_name, n_bad, n_total,
    bad_pct_u6) with the rate as an integral micro-unit division.
    Each check costs at most one key shuffle; the union is 4 rows.
    The ingest gate a streaming pipeline promotes or quarantines a
    batch on — the events-table sibling of quality_profile (columns)
    and referential_integrity_audit (keys)."""
    from pyspark.sql import Window

    e = materialize(e)
    n = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    ooo = (
        e.select(
            F.when(F.col("ts") < F.lag("ts").over(w), 1).otherwise(0).alias("inv")
        )
        .agg(F.sum("inv").cast("bigint").alias("bad"))
        .select(F.lit("arrival_order_inversions").alias("check_name"), "bad")
    )
    dup = (
        e.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("bigint")
            .alias("bad")
        )
        .select(F.lit("duplicate_event_ids").alias("check_name"), "bad")
    )
    mt = (
        e.filter(F.col("event_type").isNull() | (F.col("event_type") == ""))
        .agg(F.count(F.lit(1)).cast("bigint").alias("bad"))
        .select(F.lit("null_or_empty_type").alias("check_name"), "bad")
    )
    neg = (
        e.filter(F.col("value").isNull() | (F.col("value") < 0))
        .agg(F.count(F.lit(1)).cast("bigint").alias("bad"))
        .select(F.lit("null_or_negative_value").alias("check_name"), "bad")
    )
    u = ooo.unionByName(dup).unionByName(mt).unionByName(neg)
    return u.crossJoin(F.broadcast(n)).select(
        "check_name",
        F.col("bad").alias("n_bad"),
        "n_total",
        F.expr("cast(bad * 1000000 div n_total as bigint)").alias("bad_pct_u6"),
    )
