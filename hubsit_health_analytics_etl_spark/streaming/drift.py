"""Continuous drift monitoring — windowed value histograms + PSI
against a frozen reference (EXT; no reference counterpart — the pandas
reference is single-shot batch).

Drift detection in production is CONTINUOUS: every window of fresh
events is compared against a frozen training-time reference
distribution. The histogram is the right streaming statistic because
it is a pure additive aggregate — per-(window, bin) counts merge
across triggers, partitions and ingests, so the SAME builder runs as
a batch job (DuckDB-verifiable, the correctness path) and as a
Structured Streaming query (pass a streaming frame + watermark; the
plan becomes a stateful windowed agg with late-data handling — the
tumbling_agg contract from streaming/windows.py).

The reference bounds/histogram are LITERALS frozen at deployment
(training time), not recomputed per batch — a streaming query cannot
re-aggregate history, and a drift monitor must not let the reference
drift along with the data it is judging.

Determinism (shared with w12_retrieval_sketches.q_user_value_drift_psi):
the PSI fold runs over a SORTED bin array (an unordered float SUM would
not survive a cross-engine hash), bins empty on BOTH sides contribute
one closed-form Laplace term COUNTED rather than materialized, and
smoothing keeps every ln() argument an exact integer ratio.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .windows import _with_watermark


def value_bin_expr(
    value_col: str, vmin: float, vmax: float, bins: int
) -> Column:
    """Fixed-width bin id in [0, bins): literal bounds frozen at
    deployment. Out-of-range values clamp into the edge bins (a
    monitor must count them — production values OUTSIDE the training
    range are exactly the drift signal)."""
    if vmax <= vmin:
        return F.lit(0)
    raw = F.floor(
        (F.col(value_col) - F.lit(float(vmin)))
        * float(bins)
        / (F.lit(float(vmax)) - F.lit(float(vmin)))
    )
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")


def windowed_value_histogram(
    df: DataFrame,
    ts: str,
    duration: str,
    value_col: str = "value",
    vmin: float = 0.0,
    vmax: float = 1.0,
    bins: int = 10,
    keys: Sequence[str] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Per-(window, *keys, bin) event counts — the mergeable drift
    statistic. Batch and streaming share this code path; streaming
    needs ``watermark``. One shuffle on (window, keys, bin); map-side
    combine collapses events before it."""
    w = F.window(F.col(ts), duration)
    out = (
        _with_watermark(df, ts, watermark)
        .select(
            F.col(ts),
            *keys,
            value_bin_expr(value_col, vmin, vmax, bins).alias("bin"),
        )
        .groupBy(w.alias("w"), *keys, "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return out.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        *keys,
        "bin",
        "n",
    )


def psi_vs_reference(
    hist: DataFrame,
    reference: list[int],
    group_cols: Sequence[str] = ("window_start",),
    bins: int | None = None,
    alert_u6: int = 200_000,
    assume_merged: bool = False,
) -> DataFrame:
    """PSI of each group's histogram against a frozen ``reference``
    histogram (list of per-bin counts, collected ONCE at deployment —
    a literal model like codebooks/centroids, never recomputed per
    batch). Input rows: (*group_cols, bin, n). Output: (*group_cols,
    n_cur, psi_u6, drifted).

    Laplace-smoothed, sequential sorted-bin fold, closed-form term
    for bins empty in the CURRENT window (reference bins are literal,
    so the fold enumerates all B bins via the reference and looks the
    current count up with element_at on a collected map — the window
    side therefore needs only its non-empty bins).

    ``assume_merged``: pass True when the caller GUARANTEES at most
    one row per (*group_cols, bin) — e.g. ``hist`` is the direct
    output of windowed_value_histogram, whose groupBy key IS
    (window, bin). That skips the defensive pre-merge shuffle and
    keeps the end-to-end monitor at two exchanges (counts + fold).
    The default (False) is safe for merged/unioned histograms (two
    triggers, two ingests): counts are additive, so a sum() collapse
    runs first — map_from_entries under the default
    mapKeyDedupPolicy=EXCEPTION would crash on a repeated bin key."""
    B = bins if bins is not None else len(reference)
    if len(reference) != B:
        raise ValueError(f"reference has {len(reference)} bins, expected {B}")
    n_ref = int(sum(reference))
    ref_lit = "array(" + ", ".join(f"{int(c)}L" for c in reference) + ")"
    g = list(group_cols)
    if assume_merged:
        merged = hist.select(*g, "bin", F.col("n").cast("bigint").alias("n"))
    else:
        # Pre-collapse duplicate (group, bin) rows BEFORE building the
        # map. Cheap: the extra agg rides on |groups|×B rows, map-side
        # combine first — but it IS a third Exchange, so callers with
        # already-unique keys should pass assume_merged=True.
        merged = hist.groupBy(*g, "bin").agg(
            F.sum("n").cast("bigint").alias("n")
        )
    u = merged.groupBy(*g).agg(
        F.sum("n").cast("bigint").alias("n_cur"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("bin", "n")))
        ).alias("cur"),
    )
    # fold over ALL B bins in fixed order; current count via map lookup
    term = (
        f"(coalesce(element_at(cur, b), 0L) + 1) / cast(n_cur + {B} as double)"
        f" - (element_at({ref_lit}, b + 1) + 1) / cast({n_ref + B} as double)"
    )
    lg = (
        f"ln(((coalesce(element_at(cur, b), 0L) + 1) * {n_ref + B})"
        f" / cast((element_at({ref_lit}, b + 1) + 1) * (n_cur + {B}) as double))"
    )
    psi = F.expr(
        f"aggregate(sequence(0, {B - 1}), 0D, (acc, b) -> acc + ({term}) * ({lg}))"
    )
    psi_u6 = F.floor(psi * 1000000.0).cast("bigint")
    return u.select(
        *g,
        F.col("n_cur"),
        psi_u6.alias("psi_u6"),
        (psi_u6 >= F.lit(alert_u6)).cast("bigint").alias("drifted"),
    )
