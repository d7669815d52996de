"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState``.

Demonstrates the engine's arbitrary-stateful surface (the reference has no
stateful operators at all — SURVEY.md §2.3): state is one open session per
user carried across micro-batches; a session CLOSES (and is emitted) when a
later event arrives ≥ GAP after the session's last event. The final open
session per user stays in state (production would emit it on event-time
timeout at the watermark; tests assert the closed set against the batch
``session_window`` oracle query).

Scale: state is O(active users) × ~32 bytes; the shuffle key is user_id
(same skew caveat as windows.py — salt upstream for power users).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_connect_storage_cloud_formats_spark.streaming.windows import (
    SESSION_GAP_MINUTES,
    WATERMARK,
)

# derived from windows.SESSION_GAP_MINUTES — the batch session_window
# oracle and this stateful sessionizer must share ONE gap definition
# (round-9 review)
GAP_US = SESSION_GAP_MINUTES * 60 * 1_000_000

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, total_value double"
)
STATE_SCHEMA = "start bigint, last bigint, n bigint, total double"


def _emit(user_id, sessions):
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in sessions],
            "session_end": [pd.Timestamp(last + GAP_US, unit="us") for _, last, _, _ in sessions],
            "n_events": [n for _, _, n, _ in sessions],
            "total_value": [tv for _, _, _, tv in sessions],
        }
    )


def _sessionize_group(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key

    # Event-time timeout: the watermark passed this user's open-session end
    # with no new events → the session is final; emit and clear state.
    if state.hasTimedOut:
        start, last, n, total = state.get
        state.remove()
        yield _emit(user_id, [(start, last, n, total)])
        return

    events = pd.concat(list(pdf_iter)).sort_values("ts")
    ts_us = (events["ts"].astype("int64") // 1000).tolist()  # ns → µs
    vals = events["value"].tolist()

    if state.exists:
        start, last, n, total = state.get
    else:
        start = last = None
        n, total = 0, 0.0

    closed = []
    for t, v in zip(ts_us, vals):
        if start is None:
            start, last, n, total = t, t, 1, float(v)
        elif t - last >= GAP_US:
            closed.append((start, last, n, total))
            start, last, n, total = t, t, 1, float(v)
        else:
            # Merge WITHOUT rewinding: a late-but-within-watermark event
            # (t < last, admitted across micro-batches) must extend the
            # session's span, never shrink it — `last = t` here would move
            # session_end backwards and mis-close the session on the next
            # event (hazard whenever watermark ≫ gap). Policy note: a late
            # event more than GAP before `start` is also merged into the
            # open session; retroactively giving it its own earlier session
            # would require buffering raw events until the watermark (the
            # batch session_window oracle, which sees all events at once,
            # splits that case). State stays O(1)/user at that price.
            start = min(start, t)
            last = max(last, t)
            n, total = n + 1, total + float(v)

    state.update((start, last, n, total))
    # fire when the event-time watermark passes the open session's end
    state.setTimeoutTimestamp((last + GAP_US) // 1000)  # µs → ms epoch
    if closed:
        yield _emit(user_id, closed)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events(user_id, ts, value, ...) stream → closed-session stream.

    Sessions close two ways: a later event arrives ≥ GAP after the last
    (inline), or the event-time watermark passes the open session's end
    (timeout — the production path for users who simply stop)."""
    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
