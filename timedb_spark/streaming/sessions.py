"""Streaming gap-timeout sessionization — the streaming twin of
``operators.timeseries.sessionize`` (ClickHouse/TimescaleDB session-window
analogue over an unbounded event feed).

Semantics (identical to the batch op): a session is a maximal run of a
user's events where consecutive gaps are ≤ ``gap_minutes``. A session is
EMITTED when it closes, which happens two ways:

* **closed by data** — a later event for the same user arrives with a gap
  larger than the threshold (emitted immediately, no watermark needed);
* **closed by time** — no further event arrives and the event-time
  watermark passes ``session_end + gap`` (``GroupStateTimeout.
  EventTimeTimeout`` flush), so idle users' last sessions still land.

State per user is ONE open-session tuple (start, end, n, sum_cents) — O(1)
per live user, bounded by the watermark: once a user's open session times
out the key is removed. At 100 TB-feed scale state size tracks *concurrent
users*, not history.

Value sums are kept as integer cents (decimal-exact, order-independent) to
match the batch op's ``sum(CAST(value AS DECIMAL(18,2)))``.

End-of-stream contract (the part that makes this oracle-comparable, noted
in SURVEY §7 round-2 candidates): with a bounded drain the final open
session per user never times out — the deterministic output of one
``availableNow`` run is exactly *batch sessions minus each user's last*,
which is what the SQL oracle computes. A checkpoint restart with a
watermark-advancing sentinel then flushes the remainder
(``tests/test_streaming.py::test_stream_sessionize_timeout_flush``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from timedb_spark.streaming.windows import events_in_order

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

# open session: [start_us, end_us, n_events, sum_cents]
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)


def _emit_row(user_id: int, s: tuple) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [int(user_id)],
            "session_start": [pd.Timestamp(s[0] * 1000)],
            "session_end": [pd.Timestamp(s[1] * 1000)],
            "n_events": [int(s[2])],
            "sum_value": [round(s[3] / 100.0, 2)],
        }
    )


def _fold_sessions(ts_us, cents, open_s, gap_us):
    """Vectorized gap-split session fold over ONE key's sorted batch.

    Returns (closed, open_s): ``closed`` is a list of finished
    (start, end, n, sum_cents) tuples in chronological order, ``open_s``
    the still-open trailing session. Segment boundaries come from one
    ``diff > gap`` compare; per-segment (n, sum) via ``add.reduceat`` —
    O(rows) numpy, no per-event Python. The incoming ``open_s`` merges
    with segment 0 when the first new event continues it. Emission cost
    was the v1 hot spot: one 1-row DataFrame PER CLOSED SESSION (~10⁵
    constructions per batch at sf0.1, 13 s of the 14 s batch) — callers
    now build ONE frame per key from ``closed``.

    Late-data clamp (ADVICE r5): the session-continuation test is against
    the RUNNING session end — for sorted events that is
    ``max(ts[i-1], open_end)``, not the raw in-batch predecessor. Without
    it, a batch of events arriving entirely before the open session's end
    but with an in-batch gap > gap_us would close the merged session and
    open a second one starting BEFORE the closed one's end (overlapping
    emissions the per-event fold never produced). After the first true
    split, every later event exceeds ``open_end + gap_us`` so the
    ``maximum`` degenerates to the plain predecessor — one vectorized
    expression implements the exact running-max semantics.
    """
    import numpy as np

    m = len(ts_us)
    new_seg = np.empty(m, dtype=bool)
    new_seg[0] = open_s is None or int(ts_us[0]) - open_s[1] > gap_us
    if m > 1:
        if open_s is None:
            new_seg[1:] = np.diff(ts_us) > gap_us
        else:
            new_seg[1:] = ts_us[1:] - np.maximum(ts_us[:-1], open_s[1]) > gap_us
    starts = np.nonzero(new_seg)[0]  # may be empty (all rows continue open_s)
    bounds = np.r_[0, starts] if (len(starts) == 0 or starts[0] != 0) else starts
    n_per = np.diff(np.r_[bounds, m])
    sum_per = np.add.reduceat(cents, bounds)
    segs = [
        (int(ts_us[b]), int(ts_us[b + k - 1]), int(k), int(s))
        for b, k, s in zip(bounds, n_per, sum_per)
    ]
    if open_s is not None and not new_seg[0]:
        f = segs[0]
        segs[0] = (
            min(open_s[0], f[0]),
            max(open_s[1], f[1]),
            open_s[2] + f[2],
            open_s[3] + f[3],
        )
    elif open_s is not None:
        segs.insert(0, tuple(open_s))
    return segs[:-1], list(segs[-1])


def _fold_pdf(pdf: pd.DataFrame, open_s, gap_us):
    """:func:`_fold_sessions` over one key's batch in event order."""
    import numpy as np

    ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
    cents = np.rint(pdf["value"].values * 100).astype("int64")
    return _fold_sessions(ts_us, cents, open_s, gap_us)


def _emit_sessions(user_id: int, sessions: list) -> pd.DataFrame:
    import numpy as np

    a = np.asarray(sessions, dtype="int64")  # rows: (start_us, end_us, n, cents)
    return pd.DataFrame(
        {
            "user_id": np.full(len(sessions), int(user_id), dtype="int64"),
            "session_start": a[:, 0].astype("datetime64[us]"),
            "session_end": a[:, 1].astype("datetime64[us]"),
            "n_events": a[:, 2],
            # n/100.0 is already at 2-dec resolution; np.round == round here
            "sum_value": np.round(a[:, 3] / 100.0, 2),
        }
    )


def _make_update(gap_us: int):
    def _update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                yield _emit_row(user_id, state.get)
            state.remove()
            return

        pdf = events_in_order(pdfs)
        if pdf is None:
            return
        open_prev = list(state.get) if state.exists else None
        closed, open_s = _fold_pdf(pdf, open_prev, gap_us)

        state.update(tuple(open_s))
        # Close by time once the watermark passes end + gap. The timestamp
        # must sit ahead of the current watermark; if the session is already
        # expired relative to it, flush now instead of parking the key.
        deadline_ms = (open_s[1] + gap_us) // 1000 + 1
        if deadline_ms <= state.getCurrentWatermarkMs():
            closed.append(tuple(open_s))
            state.remove()
        else:
            state.setTimeoutTimestamp(deadline_ms)
        if closed:
            yield _emit_sessions(user_id, closed)

    return _update


def stream_sessionize(
    events_stream: DataFrame, *, gap_minutes: int = 30, delay: str = "0 seconds"
) -> DataFrame:
    """events-shaped stream (``event_id, ts, user_id, event_type, value``) →
    closed sessions, append mode. Event-time watermark on ``ts`` both bounds
    late data and drives the idle-session timeout flush."""
    return (
        events_stream.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_update(gap_minutes * 60 * 1_000_000),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
