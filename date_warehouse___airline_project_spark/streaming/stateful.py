"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no stateful streaming at all (SURVEY §2.12 gap); this
supplies the canonical custom-state shape: a per-key running aggregate
with inactivity timeout — the pattern behind fraud counters, rate
limiters, and per-passenger journey accumulators.

``running_user_totals`` keeps, per user, (event count, value sum) across
micro-batches in GroupState, emitting an updated row per key per batch;
a processing-time timeout expires idle keys (bounding state size — the
100 TB-stream requirement). Arrow-batched like every Python stage.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [T.StructField("n_events", T.LongType()), T.StructField("total_value", T.DoubleType())]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("expired", T.BooleanType()),
    ]
)


def _make_update(timeout_ms: int | None):
    def _update(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "n_events": [n], "total_value": [total], "expired": [True]}
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total], "expired": [False]}
        )

    return _update


def running_user_totals(events: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """Per-user running (count, sum), optionally with an inactivity timeout.

    ``events`` must be a streaming DataFrame with (user_id, value).
    Output mode: update. State per key is two scalars — bounded by live
    key cardinality, not stream length.

    ``timeout_ms`` enables ProcessingTimeTimeout expiry of idle keys.
    NOTE: with a timeout configured the engine schedules continuous
    timer-evaluation micro-batches, so ``processAllAvailable()`` never
    drains — drive such queries with a real trigger and poll the sink
    (tests use the no-timeout form for deterministic completion).
    """
    conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _make_update(timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=conf,
        )
    )
