"""Streaming ordered funnel — the streaming twin of
``operators.funnel.events_funnel`` (ClickHouse ``windowFunnel`` over an
unbounded feed).

Semantics (identical to the batch op): for every click, the user's earliest
strictly-later view, then the earliest purchase strictly after THAT view —
both within a 24 h horizon measured from the click. Per-user state holds
open funnels in two stages (click-awaiting-view, click+view-awaiting-
purchase) as parallel µs arrays:

* a **view** promotes every stage-1 click it strictly follows within the
  horizon (a view can serve many clicks — matches are not consumed);
* a **purchase** completes every stage-2 funnel it strictly follows within
  the horizon → emit depth 3 immediately;
* the **event-time timer** at ``click + horizon`` finalizes what remains:
  depth 1 (never viewed in time) or depth 2 (viewed, never purchased in
  time). Out-of-horizon candidates are deliberately NOT matched *or*
  finalized early — they sit until the timer, which keeps the drain
  contract a pure predicate (below) instead of data-arrival-dependent.

State is bounded by the horizon: every entry dies at ``ct + 24 h``, so
per-user state is O(clicks in the last 24 h) regardless of feed length.

:func:`funnel_step` is the whole fold; this module's v1 operator and
``state_v2.FunnelProcessor`` differ only in how they store the two stages
and set the timer.

Drain contract (full SQL oracle): one availableNow drain emits exactly
  depth-3 funnels ∪ {depth-1/2 funnels whose click + horizon fell behind
  the final watermark (ms floor)}.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from timedb_spark.streaming.windows import events_in_order

_HORIZON_US = 24 * 3600 * 1_000_000

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("click_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("view_id", T.LongType()),
        T.StructField("purchase_id", T.LongType()),
        T.StructField("funnel_depth", T.IntegerType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("s1_ct", T.ArrayType(T.LongType())),
        T.StructField("s1_cid", T.ArrayType(T.LongType())),
        T.StructField("s2_ct", T.ArrayType(T.LongType())),
        T.StructField("s2_cid", T.ArrayType(T.LongType())),
        T.StructField("s2_vid", T.ArrayType(T.LongType())),
        T.StructField("s2_vt", T.ArrayType(T.LongType())),
    ]
)


def deadline_ms(ct_us: int) -> int:
    """The event-time timer of an open funnel: its click + horizon, in ms."""
    return (ct_us + _HORIZON_US) // 1000 + 1


def funnel_step(s1: list, s2: list, chunks, wm_ms: int) -> tuple[list, list, list]:
    """One key's funnel advance, the step the v1 and v2 operators share.

    ``s1`` holds ``(click_ts, click_id)`` awaiting a view and ``s2``
    ``(click_ts, click_id, view_id, view_ts)`` awaiting a purchase. The
    key's new events fold in ``(ts, event_id)`` order; then every entry
    whose :func:`deadline_ms` is at or behind ``wm_ms`` is finalized.
    Returns the surviving ``(s1, s2)`` and the emitted
    ``(click_id, view_id, purchase_id, depth)`` rows."""
    out: list[tuple] = []
    pdf = events_in_order(chunks)
    if pdf is not None:
        ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64").tolist()
        for t, typ, e in zip(ts_us, pdf["event_type"].values, pdf["event_id"].values.tolist()):
            if typ == "click":
                s1.append((t, e))
            elif typ == "view":
                keep = []
                for ct, cid in s1:
                    if ct < t and t - ct <= _HORIZON_US:
                        s2.append((ct, cid, e, t))
                    else:
                        keep.append((ct, cid))
                s1 = keep
            elif typ == "purchase":
                keep = []
                for f in s2:
                    if f[3] < t and t - f[0] <= _HORIZON_US:
                        out.append((f[1], f[2], e, 3))
                    else:
                        keep.append(f)
                s2 = keep

    out += [(cid, None, None, 1) for ct, cid in s1 if deadline_ms(ct) <= wm_ms]
    out += [(cid, vid, None, 2) for ct, cid, vid, _ in s2 if deadline_ms(ct) <= wm_ms]
    s1 = [f for f in s1 if deadline_ms(f[0]) > wm_ms]
    s2 = [f for f in s2 if deadline_ms(f[0]) > wm_ms]
    return s1, s2, out


def funnel_frame(user_id: int, out: list) -> pd.DataFrame:
    """:func:`funnel_step`'s emitted rows as one :data:`OUTPUT_SCHEMA` frame."""
    return pd.DataFrame(
        {
            "click_id": [r[0] for r in out],
            "user_id": [int(user_id)] * len(out),
            "view_id": pd.array([r[1] for r in out], dtype="Int64"),
            "purchase_id": pd.array([r[2] for r in out], dtype="Int64"),
            "funnel_depth": [r[3] for r in out],
        }
    )


def _columns(entries: list, width: int) -> list[list]:
    """A stage's entries as :data:`STATE_SCHEMA`'s parallel arrays."""
    return [list(c) for c in zip(*entries)] if entries else [[] for _ in range(width)]


def _update_funnel(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    s1_ct, s1_cid, s2_ct, s2_cid, s2_vid, s2_vt = state.get if state.exists else ([],) * 6
    s1, s2 = list(zip(s1_ct, s1_cid)), list(zip(s2_ct, s2_cid, s2_vid, s2_vt))
    wm_ms = max(state.getCurrentWatermarkMs(), 0)
    s1, s2, out = funnel_step(s1, s2, () if state.hasTimedOut else pdfs, wm_ms)

    if s1 or s2:
        state.update((*_columns(s1, 2), *_columns(s2, 4)))
        state.setTimeoutTimestamp(min(deadline_ms(f[0]) for f in s1 + s2))
    else:
        state.remove()
    if out:
        yield funnel_frame(key[0], out)


def stream_funnel(events_stream: DataFrame, *, delay: str = "0 seconds") -> DataFrame:
    """events-shaped stream → completed/finalized funnels, append mode."""
    return (
        events_stream.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_funnel,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
