"""Custom stateful streaming operator via ``applyInPandasWithState``.

The built-in stateful operators (windowed aggs, dropDuplicates,
stream-stream joins) cover the reference's surface; this is the escape
hatch for semantics they can't express — here, per-user RUNNING
lifetime totals emitted on every update (a feature-store pattern: the
training pipeline reads the freshest per-entity aggregates without
recomputing history).

State is one row per user (counts + sums + last-seen micros), stored in
the state store (RocksDB in production), updated per micro-batch from
Arrow-batched pandas frames.  At 100 TB the state size is bounded by
|users|, not |events| — the whole point versus a batch groupBy over
ever-growing history.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_seen_us", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_seen_us", T.LongType()),
    ]
)


def _update_user(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            # ts_us is a plain int64 column (converted Spark-side) — no
            # pandas datetime-unit ambiguity crosses the Arrow boundary
            last_us = max(last_us, int(pdf["ts_us"].max()))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        [(user_id, n, round(total, 6), last_us)],
        columns=["user_id", "n_events", "total_value", "last_seen_us"],
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user lifetime (n_events, total_value, last_seen) — emitted
    fresh every micro-batch a user appears in.  Streaming-only (Spark
    rejects applyInPandasWithState in batch queries) — the oracle path
    drives a real single-batch AvailableNow stream instead."""
    from pyspark.sql import functions as F

    prepared = events.select(
        "user_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_user,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _make_session_updater(gap_us: int):
    def _update_sessions(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
        if state.hasTimedOut:
            # watermark passed last_event + gap: the open session can
            # never be extended — emit and clear
            s, e, n = state.get
            state.remove()
            yield pd.DataFrame([(user_id, s, e, n)], columns=cols)
            return
        s, e, n = state.get if state.exists else (0, 0, 0)
        closed: list[tuple] = []
        ts_all: list[int] = []
        for pdf in pdfs:
            ts_all.extend(int(v) for v in pdf["ts_us"])
        for t in sorted(ts_all):
            if n == 0:
                s, e, n = t, t, 1
            elif t - e <= gap_us:
                # out-of-order events (allowed within the watermark
                # delay) can carry t < e across micro-batches: the
                # session must only ever GROW, so extend the bounds
                # monotonically instead of assigning t blindly —
                # otherwise session_end_us regresses (even below
                # start_us) and the shrunken timeout below can land
                # under the current watermark, which Spark rejects.
                s, e, n = min(s, t), max(e, t), n + 1
            else:
                closed.append((user_id, s, e, n))
                s, e, n = t, t, 1
        state.update((s, e, n))
        # event-time timeout: fires once the WATERMARK (not the clock)
        # passes the gap horizon of the still-open session; clamp to
        # strictly above the current watermark — a timeout at or below
        # it is a runtime error that kills the query.
        timeout_ms = e // 1000 + gap_us // 1000
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
        yield pd.DataFrame(closed, columns=cols)

    return _update_sessions


def gap_sessions(events: DataFrame, gap: str = "12 hours",
                 watermark: str = "10 minutes") -> DataFrame:
    """Event-time GAP SESSIONIZATION as a custom stateful operator —
    the flagship ``applyInPandasWithState`` + ``EventTimeTimeout``
    shape the built-ins cannot express with per-key custom state: a
    session closes either when a later event arrives past the gap
    (emitted immediately, same micro-batch) or when the WATERMARK
    passes ``last_event + gap`` (emitted by the timeout callback — the
    path that needs real multi-batch eviction to execute).

    Differs from the built-in ``session_window`` aggregate by holding
    arbitrary per-session state (here start/end/count; production
    variants carry feature vectors) and by choosing WHEN to emit.
    State is one row per ACTIVE user — bounded by concurrent users ×
    gap, independent of history length."""
    from pyspark.sql import functions as F

    import re

    m = re.fullmatch(r"(\d+)\s*(hour|hours|minute|minutes)", gap)
    if not m:
        raise ValueError(f"unsupported gap spec {gap!r}")
    mult = 3_600_000_000 if m.group(2).startswith("hour") else 60_000_000
    gap_us = int(m.group(1)) * mult
    prepared = events.withWatermark("ts", watermark).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "ts"
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _make_session_updater(gap_us),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
