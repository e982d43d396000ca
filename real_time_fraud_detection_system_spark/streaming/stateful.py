"""Custom stateful streaming operator: event-time sessionization with
``applyInPandasWithState``.

The reference keeps no cross-event state (SURVEY.md T5) -- its consumer
loop is stateless per message. This operator is the engine's answer to
the capability the reference's Postgres-side session queries would need
at scale: per-user sessions built incrementally in the stream, state
scoped per group key, expired by event-time timeout against the
watermark, emitting a session row exactly when it closes.

Scale posture: state lives in the state store keyed by user_id --
partitioned with the shuffle, nothing driver-side; the pandas kernel
sees one Arrow batch per (key, trigger); timeouts bound state size (no
unbounded session accumulation for dead users). The batch twin of this
operator is operators/sessionize.py (same gap rule, oracle-checked);
this module is the streaming-native path, covered by a replay test
rather than a SQL oracle (non-expressible: incremental emission).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_S = 30 * 60  # same 30-minute gap rule as operators/sessionize.py

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

# state: running session bounds + aggregates (epoch micros for timestamps
# -- the state store round-trips primitives, not pandas Timestamps)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_US = 1_000_000


def _sessionize_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this trigger's events for one user into the open session;
    emit closed sessions (gap exceeded mid-batch, or state timed out)."""
    (user_id,) = key
    closed = []

    if state.hasTimedOut:
        if state.exists:
            s0, s1, n, tv = state.get
            closed.append((user_id, s0, s1, n, tv))
            state.remove()
    else:
        events = []
        for pdf in pdfs:
            for ts, val in zip(pdf["ts"], pdf["value"]):
                events.append((int(ts.value // 1000), float(val)))
        # Interval-merge sweep: treat the open session from state as one
        # interval and each event as a point interval, sort by start,
        # and merge under the gap rule. Out-of-order replay thus groups
        # several late events into their own earlier session(s) (the
        # batch twin's exact semantics) instead of emitting one
        # single-event session per late row; everything but the most
        # recent session closes.
        items = [[ts_us, ts_us, 1, val] for ts_us, val in sorted(events)]
        if state.exists:
            s0, s1, n, tv = state.get
            items.append([s0, s1, n, tv])
            items.sort(key=lambda it: (it[0], it[1]))
        gap_us = SESSION_GAP_S * _US
        merged: list[list] = []
        for it in items:
            if merged and it[0] <= merged[-1][1] + gap_us:
                last = merged[-1]
                last[1] = max(last[1], it[1])
                last[2] += it[2]
                last[3] += it[3]
            else:
                merged.append(it)
        for s in merged[:-1]:
            closed.append((user_id, s[0], s[1], s[2], s[3]))
        if merged:
            cur = merged[-1]
            state.update(tuple(cur))
            # close the open session once the watermark passes its gap
            state.setTimeoutTimestamp(cur[1] // 1000 + SESSION_GAP_S * 1000)

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                "n_events": [c[3] for c in closed],
                "total_value": [c[4] for c in closed],
            }
        )


def sessionize_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """events(ts TIMESTAMP, user_id LONG, value DOUBLE) streaming frame ->
    closed sessions per user (30-min inactivity gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ==========================================================================
# Streaming arrival-process monitor: the streaming-native twin of
# operators/temporal.py event_gap_buckets (same bucket edges, same
# later-event attribution). Per-user state holds the last FINALIZED
# event time (the gap anchor) plus the events still inside the
# watermark horizon; a gap row is emitted exactly once, when its later
# event's ts falls at or below the current watermark (no earlier event
# can legally arrive before it anymore). Late-but-in-horizon events
# therefore produce the same gaps the batch twin computes -- the buffer
# re-sorts them -- while beyond-watermark events are already dropped
# upstream by withWatermark.
#
# Scale posture: state is per-user and bounded by the watermark horizon
# (buffered events age out as the watermark advances; a TTL timeout
# removes users gone GAP_STATE_TTL_S past their last event), and lives
# in the state store partitioned with the shuffle -- nothing
# driver-side.

GAP_STATE_TTL_S = 24 * 3600

GAP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("gap_us", T.LongType()),
        T.StructField("gap_bucket", T.StringType()),
    ]
)

GAP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("anchor_us", T.LongType()),  # -1 = no finalized event
        T.StructField("pend_ts_us", T.ArrayType(T.LongType())),
        T.StructField("pend_id", T.ArrayType(T.LongType())),
        T.StructField("pend_type", T.ArrayType(T.StringType())),
    ]
)


def _gap_bucket(gap_us: int) -> str:
    from ..operators.temporal import GAP_EDGES_US, GAP_LAST

    for edge, label in GAP_EDGES_US:
        if gap_us < edge:
            return label
    return GAP_LAST


def _gap_monitor_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Invoked on data for this user OR on timeout. Groups absent from
    a batch are never called with data, so finalization when the
    watermark passes a pending event is driven by an event-time timeout
    set at the NEWEST pending event; once nothing is pending the
    timeout degrades to the TTL cleanup."""
    (user_id,) = key
    anchor, pend = -1, []
    if state.exists:
        anchor, pend_ts, pend_id, pend_ty = state.get
        pend = list(zip(pend_ts, pend_id, pend_ty))
    if not state.hasTimedOut:
        for pdf in pdfs:
            ids = (
                pdf["event_id"]
                if "event_id" in pdf.columns
                else [-1] * len(pdf)
            )
            for ts, eid, ty in zip(pdf["ts"], ids, pdf["event_type"]):
                pend.append((int(ts.value // 1000), int(eid), str(ty)))
        # (ts, event_id) -- the batch twin's ordering; event_type only
        # decides ties when the input carries no event_id (all -1)
        pend.sort()

    wm_ms = state.getCurrentWatermarkMs()
    wm_us = wm_ms * 1000
    out, keep = [], []
    for ts_us, eid, ty in pend:
        if ts_us <= wm_us:  # a timeout firing implies wm passed them all
            if anchor >= 0:
                gap = ts_us - anchor
                out.append((user_id, ty, gap, _gap_bucket(gap)))
            anchor = ts_us
        else:
            keep.append((ts_us, eid, ty))

    if state.hasTimedOut and not keep and not out:
        state.remove()  # TTL fired on a drained user: drop the anchor
    else:
        state.update(
            (
                anchor,
                [t for t, _, _ in keep],
                [i for _, i, _ in keep],
                [y for _, _, y in keep],
            )
        )
        if keep:
            # fire as soon as the watermark passes the newest pending
            # event (> wm now, so always a legal timeout timestamp)
            timeout_ms = max(t for t, _, _ in keep) // 1000
        else:
            timeout_ms = max(anchor // 1000, wm_ms) + GAP_STATE_TTL_S * 1000
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))

    if out:
        yield pd.DataFrame(
            {
                "user_id": [o[0] for o in out],
                "event_type": [o[1] for o in out],
                "gap_us": [o[2] for o in out],
                "gap_bucket": [o[3] for o in out],
            }
        )


def gap_monitor_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """events(ts TIMESTAMP, user_id LONG, event_type STRING[, event_id
    LONG]) streaming frame -> one row per finalized inter-event gap
    (the batch twin's rows, emitted incrementally). Aggregate
    downstream for the live histogram.

    Parity with the batch twin (event_gap_buckets), precisely:

    * Tie-break: with ``event_id`` present, equal-timestamp events are
      ordered by (ts, event_id) exactly as the batch twin's window; if
      the input carries no event_id, ties fall back to event_type
      order (a documented divergence -- feed event_id for exact
      attribution parity).
    * TTL: once a user is silent past GAP_STATE_TTL_S (24 h) with no
      pending events, the anchor is dropped to bound state size, so a
      gap that SPANS the silence is never emitted; the batch twin
      counts that gap in d_ge_1h. At any TTL the gap is already known
      to be >= 1 h, so the live histogram's d_ge_1h is a lower bound.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _gap_monitor_fn,
            outputStructType=GAP_SCHEMA,
            stateStructType=GAP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
