"""Custom stateful streaming operator on applyInPandasWithState.

Covers the "custom stateful operators" streaming checklist item
(SURVEY.md §2d): arbitrary per-key state machines beyond what
built-in windowed aggregation expresses. The demo operator maintains
a per-user running session: event count, total value, and last-seen
timestamp, emitting one updated row per key per micro-batch.

State is partitioned by key in the state store (RocksDB/HDFS-backed
on a cluster) — per-key state must stay O(1); anything list-shaped
belongs in windowed aggs with watermark eviction instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreducewordoccurences_spark.sources.readers import ts_micros

STATE_SCHEMA = "n_events BIGINT, total_value DOUBLE, last_ts BIGINT"
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts", T.LongType()),
    ]
)


def _update_user_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last = state.get
    else:
        n, total, last = 0, 0.0, 0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            last = max(last, int(pdf["ts"].max()))
    state.update((n, total, last))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "last_ts": [last],
        }
    )


def running_user_totals(stream_df: DataFrame) -> DataFrame:
    """Per-user running totals with explicit state (events-table shape:
    a ``ts`` event-time column and a double ``value`` column; ``ts`` is
    normalized to int64 epoch-micros so the state row stays a flat
    BIGINT regardless of the source's physical timestamp type)."""
    return (
        stream_df.select("user_id", ts_micros(stream_df, "ts").alias("ts"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
