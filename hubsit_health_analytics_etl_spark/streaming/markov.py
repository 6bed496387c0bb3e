"""Streaming Markov transition counter via applyInPandasWithState —
the streaming twin of the batch transition matrix
(w16_behavioral_stats.q_event_markov_transitions) and its index lifecycle
(markov_new_batch / markov_forget).

The state the batch affected-key rebuild cannot avoid is exactly what
a stream keeps for free: each user's LAST event (ts, event_id, type).
A micro-batch sorts its per-user rows by (ts, event_id), splices the
stored tail in front, emits that batch's transition INCREMENTS
(from_type, to_type, n) and stores the new tail — so per-batch output
is increment-sized and the downstream running sum equals the batch
matrix over everything ingested, PROVIDED ingestion is time-ordered
per user (the append-only streaming contract; the batch lifecycle
queries handle the out-of-order case by affected-key rebuild).

Scale notes: state is one tiny tuple per user in the state store;
kernel work per batch ∝ batch rows. The increments stream is additive
— any sink that can sum (the CMS/moments sink family) materializes
the matrix.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

TRANSITION_SCHEMA = StructType(
    [
        StructField("from_type", StringType()),
        StructField("to_type", StringType()),
        StructField("n", LongType()),
    ]
)

# (last_ts µs-string, last_event_id, last_type) — strings/longs only,
# so the tuple round-trips the state store without timezone surprises
TAIL_SCHEMA = StructType(
    [
        StructField("last_ts", StringType()),
        StructField("last_event_id", LongType()),
        StructField("last_type", StringType()),
    ]
)


def _update_transitions(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
        state.remove()
        return
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if len(pdf) == 0:
        return
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    types = list(pdf["event_type"])
    if state.exists:
        _, _, last_type = state.get
        types = [last_type] + types
    from collections import Counter

    counts = Counter(zip(types, types[1:]))
    last = pdf.iloc[-1]
    state.update(
        (
            last["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"),
            int(last["event_id"]),
            str(last["event_type"]),
        )
    )
    if counts:
        yield pd.DataFrame(
            {
                "from_type": [a for a, _ in counts],
                "to_type": [b for _, b in counts],
                "n": list(counts.values()),
            }
        )


def markov_transitions_stream(events: DataFrame) -> DataFrame:
    """Per-micro-batch transition increments from a streaming
    (user_id, ts, event_id, event_type) frame. Sum downstream for the
    running matrix."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_transitions,
        outputStructType=TRANSITION_SCHEMA,
        stateStructType=TAIL_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def markov_transitions_batch(events: DataFrame) -> DataFrame:
    """Batch twin: what the summed stream increments converge to."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
