"""Spark 4 state API v2 (``transformWithStateInPandas``) twin of
``streaming.state.stream_latest_state``.

Same semantics — per ``(series_id, valid_time)`` key keep the argmax of
``value`` over ``(knowledge_time, change_time)``, emit on change — but on
the new ``StatefulProcessor`` API: typed ``ValueState`` handles, explicit
init/close lifecycle, RocksDB-backed state store (required by the API; also
the store you'd run at 100 TB — changelog checkpointing + bounded memory,
vs the HDFS-backed in-memory map of the v1 API).

Why keep both: v1 (``applyInPandasWithState``) is the portable baseline;
v2 is where Spark's stateful processing is headed (timers, multiple state
variables, TTL on state, initial-state bootstrap). The per-key Python
dispatch cost is the same order — the win is operational (state-store
lifecycle), not per-row CPU.

The v2 protocol is protobuf-framed, so every Spark Python process needs
``google.protobuf``. ``_proto_compat.ensure_protobuf`` vendors a pure-Python
runtime from a public SDK bundle on disk when pip protobuf is absent (see
that module and ``_protoshim/sitecustomize.py``); the exact unmet
precondition, when any, is recorded in ``_TWS_MISSING`` and surfaced in
skip messages and the ``NotImplementedError`` gate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from timedb_spark.streaming._proto_compat import ensure_protobuf
from timedb_spark.streaming.state import OUTPUT_SCHEMA

#: exact unmet precondition ("" when runnable) — surfaced in skip messages
#: and the NotImplementedError so a probe records WHY the gate is closed.
_TWS_MISSING = ensure_protobuf()
if not _TWS_MISSING:
    try:
        from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    except ImportError:  # pragma: no cover - Spark < 4.0
        _TWS_MISSING = "pyspark.sql.streaming.StatefulProcessor (requires Spark >= 4.0)"
if not _TWS_MISSING:
    try:  # catches protobuf gencode/runtime VersionError, not just absence
        from pyspark.sql.streaming.proto import StateMessage_pb2  # noqa: F401
    except Exception as e:  # pragma: no cover - depends on runtime found
        _TWS_MISSING = f"pyspark.sql.streaming.proto.StateMessage_pb2 unloadable: {e}"

_HAVE_TWS = not _TWS_MISSING
if not _HAVE_TWS:
    StatefulProcessor = object  # type: ignore[assignment,misc]

if _HAVE_TWS:
    # Input-boundary fast path (guide §4): must be applied at MODULE IMPORT
    # so it lands in the Spark Python worker while the processor UDF is
    # being unpickled — i.e. BEFORE the worker starts pulling the stock
    # load_stream generator (init() runs too late for the current task).
    # Equivalence-verified at patch time; a failed check or
    # TIMEDB_SPARK_NO_TWS_INPUT_FASTPATH=1 leaves stock pyspark in place.
    try:
        from timedb_spark.streaming._tws_fastpath import (
            patch_input_serializer,
            patch_output_serializer,
        )

        patch_input_serializer()
        patch_output_serializer()
    except Exception:  # pragma: no cover - never block the gate on a perf patch
        pass

#: per-key scalar state: the current argmax observation. v1's STATE_SCHEMA
#: is array-shaped (it keys by series_id and tracks every valid_time in one
#: state row); v2 keys by (series_id, valid_time) so state is 3 scalars.
V2_STATE_SCHEMA = T.StructType(
    [
        T.StructField("kt_us", T.LongType()),
        T.StructField("ct_us", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


class LatestStateProcessor(StatefulProcessor):
    """argmax-by-(kt, ct) per key, ValueState-backed.

    Per-key constants are the wall-clock here (one Python dispatch + state
    RPCs + one emitted frame PER KEY) — r14 trims all three: the
    ``_tws_fastpath`` wire codec replaces the pure-Python protobuf builds
    (~120-140 µs/call → ~10 µs, identical bytes), and the emitted one-row
    frame is built from typed numpy arrays with ``copy=False`` (measured
    1,040 µs → 270 µs vs dtype-inferred lists-of-Timestamps)."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_value_state

        patch_implicit_key(handle, pipeline=True)
        self._state = wrap_value_state(handle.getValueState("latest", V2_STATE_SCHEMA))

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        # one get() instead of exists()+get(): every state access is a
        # protobuf round-trip to the JVM state server, and get() already
        # encodes absence as None — per key per batch this is the hot path.
        cur = self._state.get()
        best = tuple(cur) if cur is not None else None
        changed = False
        for pdf in rows:
            if not len(pdf):
                continue
            kt = pdf["knowledge_time"].values.astype("datetime64[us]").astype("int64")
            ct = pdf["change_time"].values.astype("datetime64[us]").astype("int64")
            i = int(np.lexsort((ct, kt))[-1])
            cand = (int(kt[i]), int(ct[i]), float(pdf["value"].iloc[i]))
            if best is None or cand[:2] > best[:2]:
                best = cand
                changed = True
        if changed and best is not None:
            self._state.update(best)
            sid, vt = key
            yield pd.DataFrame(
                {
                    "series_id": np.array([int(sid)], dtype="int64"),
                    "valid_time": np.array([vt], dtype="datetime64[us]"),
                    "value": np.array([best[2]], dtype="float64"),
                    "knowledge_time": np.array([best[0]], dtype="datetime64[us]"),
                    "change_time": np.array([best[1]], dtype="datetime64[us]"),
                },
                copy=False,
            )

    def close(self) -> None:
        pass


#: series-keyed variant: ``valid_time`` rides as DATA (the winning row's
#: hour), so state carries it alongside the argmax observation.
V2_SERIES_STATE_SCHEMA = T.StructType(
    [
        T.StructField("kt_us", T.LongType()),
        T.StructField("ct_us", T.LongType()),
        T.StructField("vt_us", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


class SeriesLatestProcessor(StatefulProcessor):
    """argmax-by-(kt, ct) per SERIES (valid_time is payload, not key).
    Same per-key fast path as :class:`LatestStateProcessor`."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_value_state

        patch_implicit_key(handle, pipeline=True)
        self._state = wrap_value_state(handle.getValueState("latest", V2_SERIES_STATE_SCHEMA))

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        cur = self._state.get()
        best = tuple(cur) if cur is not None else None
        changed = False
        for pdf in rows:
            if not len(pdf):
                continue
            kt = pdf["knowledge_time"].values.astype("datetime64[us]").astype("int64")
            ct = pdf["change_time"].values.astype("datetime64[us]").astype("int64")
            i = int(np.lexsort((ct, kt))[-1])
            vt = int(pdf["valid_time"].values.astype("datetime64[us]").astype("int64")[i])
            cand = (int(kt[i]), int(ct[i]), vt, float(pdf["value"].iloc[i]))
            if best is None or cand[:2] > best[:2]:
                best = cand
                changed = True
        if changed and best is not None:
            self._state.update(best)
            yield pd.DataFrame(
                {
                    "series_id": np.array([int(key[0])], dtype="int64"),
                    "valid_time": np.array([best[2]], dtype="datetime64[us]"),
                    "value": np.array([best[3]], dtype="float64"),
                    "knowledge_time": np.array([best[0]], dtype="datetime64[us]"),
                    "change_time": np.array([best[1]], dtype="datetime64[us]"),
                },
                copy=False,
            )

    def close(self) -> None:
        pass


def stream_latest_state_v2(sv_stream: DataFrame, *, per_valid_time: bool = False) -> DataFrame:
    """``series_values``-shaped stream → latest state on the v2 state API.
    Caller must enable the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``).

    Key-cardinality guidance (the v2 wall-clock lever): every TWS state
    access is a protobuf RPC to the JVM state server, so cost scales with
    DISTINCT KEYS PER BATCH, not rows — measured at sf0.1 (100k rows,
    local[32], pure-Python protobuf runtime): 95,583 ``(series, hour)``
    keys → 78 s vs 1,500 ``series`` keys → 10 s, identical row volume.
    Default is therefore the entity-level key (``series_id``; the winning
    row's ``valid_time`` rides as payload). ``per_valid_time=True`` keeps
    the fine-grained key for semantics parity with v1 — but at that
    granularity prefer v1 (``applyInPandasWithState`` ships state in-band
    in Arrow batches, no per-key RPC: 6 s on the same 95k keys)."""
    if not _HAVE_TWS:
        raise NotImplementedError(
            f"transformWithStateInPandas unavailable: missing {_TWS_MISSING} "
            "(re-probed at import; install the dep to unlock the v2 path)"
        )
    if per_valid_time:
        return sv_stream.groupBy("series_id", "valid_time").transformWithStateInPandas(
            statefulProcessor=LatestStateProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    return sv_stream.groupBy("series_id").transformWithStateInPandas(
        statefulProcessor=SeriesLatestProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# gap-timeout sessionization on the v2 API (event-time TIMERS — the feature
# the v1 API lacks: v1 has exactly one timeout slot per key, v2 exposes
# register/delete/list of arbitrarily many named-by-timestamp timers)
# ---------------------------------------------------------------------------

#: open session + the deadline of the timer we registered for it (v2 timers
#: are not replace-on-set like v1's setTimeoutTimestamp, so extending a
#: session must DELETE the stale timer — the deadline rides in state).
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
        T.StructField("deadline_ms", T.LongType()),
    ]
)


class SessionizeProcessor(StatefulProcessor):
    """Same fold as streaming/sessions.py (closed-by-data emits inline,
    idle sessions flushed when the event-time watermark passes end + gap),
    re-expressed on ValueState + explicit timers."""

    def __init__(self, gap_us: int):
        self._gap_us = gap_us

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_value_state

        patch_implicit_key(handle)
        self._handle = handle
        self._state = wrap_value_state(handle.getValueState("open_session", SESSION_STATE_SCHEMA))

    def handleInputRows(self, key, rows, timerValues):
        from timedb_spark.streaming.sessions import _emit_sessions, _fold_sessions

        import numpy as np

        (user_id,) = key
        frames = [pdf for pdf in rows if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        order = np.lexsort((pdf["event_id"].values, pdf["ts"].values))
        ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")[order]
        cents = np.rint(pdf["value"].values[order] * 100).astype("int64")

        cur = self._state.get()  # one RPC: None encodes absence
        if cur is not None:
            st = tuple(cur)
            open_prev = [st[0], st[1], st[2], st[3]]
            self._handle.deleteTimer(st[4])  # superseded deadline
        else:
            open_prev = None
        closed, open_s = _fold_sessions(ts_us, cents, open_prev, self._gap_us)

        deadline_ms = (open_s[1] + self._gap_us) // 1000 + 1
        if deadline_ms <= timerValues.getCurrentWatermarkInMs():
            # already expired relative to this batch's watermark: flush now
            # instead of parking a timer that would never sit ahead of it.
            closed.append(tuple(open_s))
            self._state.clear()
        else:
            self._state.update((open_s[0], open_s[1], open_s[2], open_s[3], deadline_ms))
            self._handle.registerTimer(deadline_ms)
        if closed:
            yield _emit_sessions(user_id, closed)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        from timedb_spark.streaming.sessions import _emit_row

        cur = self._state.get()
        if cur is None:
            return
        st = tuple(cur)
        # stale-timer guard: only flush if THIS timer is the session's
        # current deadline (deleteTimer on extend should make this always
        # true; belt and braces against reordered timer delivery).
        if st[4] <= expiredTimerInfo.getExpiryTimeInMs():
            (user_id,) = key
            yield _emit_row(user_id, st[:4])
            self._state.clear()

    def close(self) -> None:
        pass


def stream_sessionize_v2(
    events_stream: DataFrame, *, gap_minutes: int = 30, delay: str = "0 seconds"
) -> DataFrame:
    """events-shaped stream → closed sessions on the v2 state API, append
    mode with event-time timers. Same drain contract as
    ``streaming.sessions.stream_sessionize`` (closed-by-data ∪
    timed-out-by-final-watermark). Caller must enable the RocksDB state
    store provider."""
    from timedb_spark.streaming.sessions import OUTPUT_SCHEMA as SESSION_OUTPUT_SCHEMA

    if not _HAVE_TWS:
        raise NotImplementedError(
            f"transformWithStateInPandas unavailable: missing {_TWS_MISSING} "
            "(re-probed at import; install the dep to unlock the v2 path)"
        )
    return (
        events_stream.withWatermark("ts", delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionizeProcessor(gap_minutes * 60 * 1_000_000),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


# ---------------------------------------------------------------------------
# ordered funnel on the v2 API (LIST STATE — the third v2 state primitive:
# per-user open funnels are genuinely list-shaped, where v1 flattens them
# into parallel arrays inside one value blob)
# ---------------------------------------------------------------------------

_FUNNEL_HORIZON_US = 24 * 3600 * 1_000_000

FUNNEL_S1_SCHEMA = T.StructType(
    [T.StructField("ct_us", T.LongType()), T.StructField("cid", T.LongType())]
)
FUNNEL_S2_SCHEMA = T.StructType(
    [
        T.StructField("ct_us", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("vid", T.LongType()),
        T.StructField("vt_us", T.LongType()),
    ]
)


def _funnel_deadline_ms(ct_us: int) -> int:
    return (ct_us + _FUNNEL_HORIZON_US) // 1000 + 1


class FunnelProcessor(StatefulProcessor):
    """Same semantics and drain contract as streaming/funnel.py
    (_update_funnel), re-expressed on two ListStates + explicit timers:
    stage-1 rows are clicks awaiting a view, stage-2 rows carry the matched
    view and await a purchase. ListState.put replaces the whole list per
    batch — one RPC per stage, not one per entry."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key

        patch_implicit_key(handle)
        self._handle = handle
        self._s1 = handle.getListState("stage1", FUNNEL_S1_SCHEMA)
        self._s2 = handle.getListState("stage2", FUNNEL_S2_SCHEMA)

    def _load(self):
        s1 = [tuple(r) for r in self._s1.get()] if self._s1.exists() else []
        s2 = [tuple(r) for r in self._s2.get()] if self._s2.exists() else []
        return s1, s2

    def _expire(self, s1, s2, wm_ms, out):
        keep1 = []
        for ct, cid in s1:
            if _funnel_deadline_ms(ct) <= wm_ms:
                out.append((cid, None, None, 1))
            else:
                keep1.append((ct, cid))
        keep2 = []
        for ct, cid, vid, vt in s2:
            if _funnel_deadline_ms(ct) <= wm_ms:
                out.append((cid, vid, None, 2))
            else:
                keep2.append((ct, cid, vid, vt))
        return keep1, keep2

    def _persist(self, s1, s2):
        for t in list(self._handle.listTimers()):
            self._handle.deleteTimer(t)
        if s1:
            self._s1.put(s1)
        else:
            self._s1.clear()
        if s2:
            self._s2.put(s2)
        else:
            self._s2.clear()
        deadlines = [_funnel_deadline_ms(ct) for ct, *_ in s1] + [
            _funnel_deadline_ms(ct) for ct, *_ in s2
        ]
        if deadlines:
            self._handle.registerTimer(min(deadlines))

    def _emit(self, user_id, out):
        if out:
            yield pd.DataFrame(
                {
                    "click_id": [r[0] for r in out],
                    "user_id": [int(user_id)] * len(out),
                    "view_id": pd.array([r[1] for r in out], dtype="Int64"),
                    "purchase_id": pd.array([r[2] for r in out], dtype="Int64"),
                    "funnel_depth": [r[3] for r in out],
                }
            )

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np

        (user_id,) = key
        wm_ms = max(timerValues.getCurrentWatermarkInMs(), 0)
        s1, s2 = self._load()
        out: list[tuple] = []

        frames = [pdf for pdf in rows if len(pdf)]
        if frames:
            pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
            order = np.lexsort((pdf["event_id"].values, pdf["ts"].values))
            ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")[order]
            etype = pdf["event_type"].values[order]
            eid = pdf["event_id"].values[order]
            for i in range(len(ts_us)):
                t, typ, e = int(ts_us[i]), etype[i], int(eid[i])
                if typ == "click":
                    s1.append((t, e))
                elif typ == "view":
                    keep = []
                    for ct, cid in s1:
                        if ct < t and t - ct <= _FUNNEL_HORIZON_US:
                            s2.append((ct, cid, e, t))
                        else:
                            keep.append((ct, cid))
                    s1 = keep
                elif typ == "purchase":
                    keep = []
                    for ct, cid, vid, vt in s2:
                        if vt < t and t - ct <= _FUNNEL_HORIZON_US:
                            out.append((cid, vid, e, 3))
                        else:
                            keep.append((ct, cid, vid, vt))
                    s2 = keep

        s1, s2 = self._expire(s1, s2, wm_ms, out)
        self._persist(s1, s2)
        yield from self._emit(user_id, out)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        (user_id,) = key
        wm_ms = max(timerValues.getCurrentWatermarkInMs(), 0)
        s1, s2 = self._load()
        out: list[tuple] = []
        s1, s2 = self._expire(s1, s2, wm_ms, out)
        self._persist(s1, s2)
        yield from self._emit(user_id, out)

    def close(self) -> None:
        pass


def stream_funnel_v2(events_stream: DataFrame, *, delay: str = "0 seconds") -> DataFrame:
    """events-shaped stream → completed/finalized funnels on the v2 state
    API, append mode — same drain contract and full SQL oracle as
    streaming/funnel.py. Caller must enable the RocksDB state store
    provider."""
    from timedb_spark.streaming.funnel import OUTPUT_SCHEMA as FUNNEL_OUTPUT_SCHEMA

    if not _HAVE_TWS:
        raise NotImplementedError(
            f"transformWithStateInPandas unavailable: missing {_TWS_MISSING} "
            "(re-probed at import; install the dep to unlock the v2 path)"
        )
    return (
        events_stream.withWatermark("ts", delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=FunnelProcessor(),
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters on the v2 API (MAP STATE — the fourth and last
# v2 state primitive): per event_type, the running per-user counters live
# in a MapState keyed by user_id, and each batch re-emits the current
# top-k. The dashboard "top users right now" shape.
# ---------------------------------------------------------------------------

TOPK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


class TopKUsersProcessor(StatefulProcessor):
    """Exact streaming top-k by event count per event_type.

    MapState holds one (n, sum_cents) entry per user seen — the state the
    operator genuinely needs is a keyed dictionary, which is exactly what
    MapState models (v1 would serialize the whole dict into one value blob
    and rewrite it every batch; MapState updates only the touched users).
    Per TOUCHED user per batch this costs one getValue + one updateValue
    round-trip; a 100 TB deployment would pre-aggregate the batch (done
    here via pandas groupby) so RPCs scale with distinct touched users,
    not rows. Emission is Update-mode: the current top-k per batch, so the
    drain's LAST emission per (event_type, rank) is the exact batch top-k
    (integer counts; cents-exact sums)."""

    def __init__(self, k: int):
        self._k = k

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_map_state

        # pipelining legal: timeMode None, and every RPC flows through the
        # fast paths (the wrapped iterator drains before stock paging).
        patch_implicit_key(handle, pipeline=True)
        self._counts = wrap_map_state(
            handle.getMapState("counts", "user_id LONG", "n LONG, sum_cents LONG")
        )

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np

        (event_type,) = key
        frames = [pdf for pdf in rows if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        cents = np.rint(pdf["value"].values * 100).astype("int64")
        batch = pd.DataFrame({"user_id": pdf["user_id"].values, "n": 1, "c": cents}).groupby(
            "user_id", as_index=True
        ).agg(n=("n", "sum"), c=("c", "sum"))
        for uid, row in batch.iterrows():
            # one getValue() instead of containsKey()+getValue(): absence is
            # encoded as None, same single-RPC discipline as the ValueState
            # processors (each state access is a round-trip).
            prev = self._counts.getValue((int(uid),))
            n0, c0 = (int(prev[0]), int(prev[1])) if prev is not None else (0, 0)
            self._counts.updateValue((int(uid),), (n0 + int(row["n"]), c0 + int(row["c"])))

        # current exact top-k: count desc, user_id asc (deterministic tie)
        entries = [
            (int(k_[0]), int(v[0]), int(v[1])) for k_, v in self._counts.iterator()
        ]
        entries.sort(key=lambda e: (-e[1], e[0]))
        top = entries[: self._k]
        if top:
            yield pd.DataFrame(
                {
                    "event_type": [event_type] * len(top),
                    "rank": list(range(1, len(top) + 1)),
                    "user_id": [e[0] for e in top],
                    "n_events": [e[1] for e in top],
                    "sum_value": [round(e[2] / 100.0, 2) for e in top],
                }
            )

    def close(self) -> None:
        pass


def stream_topk_users_v2(events_stream: DataFrame, *, k: int = 10) -> DataFrame:
    """events-shaped stream → per-event_type running top-k users by event
    count (update mode; last emission per (event_type, rank) after a drain
    equals the exact batch top-k). Caller must enable the RocksDB state
    store provider."""
    if not _HAVE_TWS:
        raise NotImplementedError(
            f"transformWithStateInPandas unavailable: missing {_TWS_MISSING} "
            "(re-probed at import; install the dep to unlock the v2 path)"
        )
    return events_stream.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=TopKUsersProcessor(k),
        outputStructType=TOPK_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# streaming ingestion dedup on the v2 API (MAP STATE, bucket-keyed; state
# TTL available as an opt-in for ProcessingTime deployments — the
# bounded-dedup-horizon contract dropDuplicatesWithinWatermark expresses
# on the v1 path)
# ---------------------------------------------------------------------------

#: dedup horizon for PRODUCTION deployments: pass this as ttlDurationMs to
#: getMapState to bound the key store (the v2-native form of
#: dropDuplicatesWithinWatermark). TTL requires timeMode="ProcessingTime",
#: and that time mode keeps scheduling no-data micro-batches under an
#: availableNow drain (observed: 800+ epochs on a 3-file feed), so the
#: registered query runs timeMode="None" with unbounded state and the TTL
#: hook stays an opt-in constructor flag.
_DEDUP_TTL_MS = 24 * 3600 * 1000

#: md5-prefix grouping key width (hex chars) → 16^2 = 256 buckets: the
#: dispatch-vs-parallelism knob. Each touched bucket pays one Python
#: dispatch per batch (plus one RPC per touched key), so fewer buckets
#: amortize dispatch; 256 still saturates a 256-task stateful stage at
#: cluster scale.
_DEDUP_BUCKET_CHARS = 2

DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("text_key", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ]
)


class DedupProcessor(StatefulProcessor):
    """First-arrival exact dedup: emit a document only the first time its
    normalized-text md5 is seen; later copies only bump a dup counter.

    Keying (the r5 cardinality lesson, see ``SeriesLatestProcessor``): the
    stream groups by a ``_DEDUP_BUCKET_CHARS``-hex-char prefix of the key —
    256 buckets — NOT by the full md5. Per-key grouping would make the v2
    per-key Python dispatch + state RPC count scale with distinct documents
    per batch; bucket-keying bounds dispatch at min(256, batch keys) while
    MapState holds one (first doc_id, n_dups) entry per full key, updated
    only for keys the batch touches. The batch is pre-deduped in pandas
    first, so RPCs scale with distinct touched keys, not rows. With
    ``ttl=True`` the MapState declares the ``_DEDUP_TTL_MS`` dedup horizon
    (state eviction — ``dropDuplicatesWithinWatermark``'s bounded key
    store); that requires the caller to run timeMode="ProcessingTime",
    which is incompatible with deterministic availableNow drains (see
    ``_DEDUP_TTL_MS``), so the default is unbounded state."""

    def __init__(self, ttl: bool = False):
        self._ttl = ttl

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_map_state

        # No pipelining under TTL: its ProcessingTime mode makes the runner's
        # stock timestamp reads share the socket with deferred responses.
        patch_implicit_key(handle, pipeline=not self._ttl)
        if self._ttl:
            self._seen = handle.getMapState(
                "seen", "text_key STRING", "doc_id LONG, n_dups LONG",
                ttlDurationMs=_DEDUP_TTL_MS,
            )
        else:
            self._seen = handle.getMapState("seen", "text_key STRING", "doc_id LONG, n_dups LONG")
        self._seen = wrap_map_state(self._seen)

    def handleInputRows(self, key, rows, timerValues):
        frames = [pdf for pdf in rows if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        # positional contract: the v2 Arrow transfer names derived columns
        # inconsistently across chunks (observed: (doc_id, tkey, bucket)
        # in some batches, (doc_id, _1, _2) in others), so rebind by
        # position — the input projection order is fixed by
        # stream_dedup_v2.
        pdf.columns = ["doc_id", "tkey", "bucket"]
        batch = (
            pdf.groupby("tkey", as_index=True)
            .agg(doc_id=("doc_id", "min"), n=("doc_id", "size"))
            .sort_index()
        )
        out_keys: list[str] = []
        out_docs: list[int] = []
        for k_, row in batch.iterrows():
            prev = self._seen.getValue((k_,))
            if prev is None:
                self._seen.updateValue((k_,), (int(row["doc_id"]), int(row["n"]) - 1))
                out_keys.append(k_)
                out_docs.append(int(row["doc_id"]))
            else:
                self._seen.updateValue(
                    (k_,), (int(prev[0]), int(prev[1]) + int(row["n"]))
                )
        if out_keys:
            yield pd.DataFrame({"text_key": out_keys, "doc_id": out_docs})

    def close(self) -> None:
        pass


def stream_dedup_v2(docs_stream: DataFrame) -> DataFrame:
    """documents-shaped stream → first arrival per normalized-text key;
    the drained row count equals the batch count(distinct key), i.e.
    ``streaming.dedup.stream_dedup``'s oracle. Update output mode: the
    processor emits each key exactly once ever, so content equals an
    append stream — but Append + transformWithState never terminates an
    availableNow drain (observed: the trigger keeps scheduling ~0.8 s
    no-data batches forever waiting on a watermark that timeMode="None"
    never advances), while Update terminates after the file batches.
    Caller must enable the RocksDB state store provider."""
    from pyspark.sql import functions as F

    from timedb_spark.streaming.dedup import text_key

    if not _HAVE_TWS:
        raise NotImplementedError(
            f"transformWithStateInPandas unavailable: missing {_TWS_MISSING} "
            "(re-probed at import; install the dep to unlock the v2 path)"
        )
    # NB: plain (non-underscore) column names — the v2 Arrow transfer
    # renames leading-underscore columns positionally (observed: _k -> _1).
    keyed = docs_stream.select(
        "doc_id", text_key(F.col("text")).alias("tkey")
    ).withColumn("bucket", F.substring("tkey", 1, _DEDUP_BUCKET_CHARS))
    return keyed.groupBy("bucket").transformWithStateInPandas(
        statefulProcessor=DedupProcessor(),
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# online two-sided CUSUM on the v2 API (pre-fit reference parameters —
# the control chart's production shape: train μ/σ, monitor the stream)
# ---------------------------------------------------------------------------

_CUSUM_K = 0.5  # slack in σ units — mirrors operators.timeseries._CUSUM_K
_CUSUM_H = 4.0  # decision threshold — mirrors operators.timeseries._CUSUM_H

CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sp", T.DoubleType()),
        T.StructField("sn", T.DoubleType()),
        T.StructField("alarms", T.LongType()),
        T.StructField("mxp", T.DoubleType()),
        T.StructField("mxn", T.DoubleType()),
        T.StructField("first", T.LongType()),
        T.StructField("t", T.LongType()),
    ]
)

CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_alarms", T.LongType()),
        T.StructField("first_alarm_idx", T.LongType()),
        T.StructField("max_cusum_pos", T.DoubleType()),
        T.StructField("max_cusum_neg", T.DoubleType()),
        T.StructField("mean_value", T.DoubleType()),
        T.StructField("std_value", T.DoubleType()),
    ]
)


class CusumProcessor(StatefulProcessor):
    """Two-sided standardized CUSUM per user, folded ACROSS micro-batches:
    S± recursions with slack k = 0.5σ and alarm+reset at h = 4σ, the exact
    ts_cusum recursion run online. Reference μ/σ arrive ON the rows
    (stream-static broadcast join from a training fit), so the monitor
    needs no global pass — the only state is the 7-field recursion tuple.
    Rows fold in (ts, event_id) order within each batch; the in-order
    staged feed keeps cross-batch order (the stream_join_ordered
    contract), so the drained final emission is bit-equal to the batch
    ts_cusum fold over the same rows."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_value_state

        patch_implicit_key(handle, pipeline=True)
        self._state = wrap_value_state(handle.getValueState("cusum", CUSUM_STATE_SCHEMA))

    def handleInputRows(self, key, rows, timerValues):
        import math

        import numpy as np

        cur = self._state.get()
        sp, sn, alarms, mxp, mxn, first, t = (
            tuple(cur) if cur is not None else (0.0, 0.0, 0, 0.0, 0.0, -1, 0)
        )
        # Concatenate ALL Arrow chunks for the key BEFORE sorting (the
        # DedupProcessor pattern): one micro-batch's rows can arrive split
        # across chunks, and a per-chunk lexsort folds chunks in arrival
        # order — the order-sensitive alarm-reset recursion would then
        # diverge from the batch ts_cusum fold whose oracle this operator
        # shares verbatim (ADVICE r6).
        chunks = [pdf for pdf in rows if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        mu = float(pdf["mu"].iloc[0])
        sigma = float(pdf["sigma"].iloc[0])
        order = np.lexsort(
            (
                pdf["event_id"].values.astype("int64"),
                pdf["ts"].values.astype("datetime64[us]").astype("int64"),
            )
        )
        cents = pdf["c"].values.astype("int64")[order]
        for c in cents:
            z = (float(c) - mu) / sigma if sigma > 0.0 else 0.0
            sp2 = max(0.0, sp + z - _CUSUM_K)
            sn2 = max(0.0, sn - z - _CUSUM_K)
            mxp = max(mxp, sp2)
            mxn = max(mxn, sn2)
            if sp2 > _CUSUM_H or sn2 > _CUSUM_H:
                alarms += 1
                if first < 0:
                    first = t
                sp, sn = 0.0, 0.0
            else:
                sp, sn = sp2, sn2
            t += 1
        self._state.update((sp, sn, int(alarms), mxp, mxn, int(first), int(t)))
        yield pd.DataFrame(
            {
                "user_id": np.array([int(key[0])], dtype="int64"),
                "n_events": np.array([int(t)], dtype="int64"),
                "n_alarms": np.array([int(alarms)], dtype="int64"),
                "first_alarm_idx": np.array([int(first)], dtype="int64"),
                "max_cusum_pos": np.array([math.floor(mxp * 1e6) / 1e6]),
                "max_cusum_neg": np.array([math.floor(mxn * 1e6) / 1e6]),
                "mean_value": np.array([math.floor(mu / 100.0 * 1e6) / 1e6]),
                "std_value": np.array([math.floor(sigma / 100.0 * 1e6) / 1e6]),
            },
            copy=False,
        )

    def close(self) -> None:
        pass


def stream_cusum_v2(events_with_params: DataFrame) -> DataFrame:
    """events stream carrying (user_id, ts, event_id, c cents, mu, sigma)
    → online CUSUM state per user. Update mode (append + timeMode="None"
    never terminates an availableNow drain — the stream_dedup_v2 lesson);
    the drain collapses to each key's LAST emission, which equals batch
    ts_cusum. Caller must enable the RocksDB state store provider."""
    if not _HAVE_TWS:
        raise NotImplementedError(
            f"transformWithStateInPandas unavailable: missing {_TWS_MISSING} "
            "(re-probed at import; install the dep to unlock the v2 path)"
        )
    return events_with_params.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CusumProcessor(),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# online Welford z-score anomaly monitor (v2 state API)
# ---------------------------------------------------------------------------

_ANOM_Z = 3.0
_ANOM_MIN_N = 10

ANOM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("m2", T.DoubleType()),
        T.StructField("alerts", T.LongType()),
        T.StructField("first", T.LongType()),
    ]
)

ANOM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_alerts", T.LongType()),
        T.StructField("first_alert_idx", T.LongType()),
        T.StructField("mean_value", T.DoubleType()),
        T.StructField("std_value", T.DoubleType()),
    ]
)


class AnomalyProcessor(StatefulProcessor):
    """Online z-score anomaly monitor per user, folded across micro-batches:
    Welford running (n, mean, M2); observation t alerts when the PREFIX
    statistics (first t−1 points) put it beyond 3σ — the self-calibrating
    production monitor that needs NO training pass at all (vs
    stream_cusum_v2's pre-fit μ/σ broadcast; this one learns its baseline
    online, the other detects small sustained shifts against a fixed one).
    The only state is the 5-field Welford tuple. Chunks concatenate before
    the one lexsort+fold (the CusumProcessor lesson), so the drained final
    emission replays the batch prefix recursion its oracle encodes."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_value_state

        patch_implicit_key(handle, pipeline=True)
        self._state = wrap_value_state(handle.getValueState("anom", ANOM_STATE_SCHEMA))

    def handleInputRows(self, key, rows, timerValues):
        import math

        import numpy as np

        cur = self._state.get()
        n, mean, m2, alerts, first = (
            tuple(cur) if cur is not None else (0, 0.0, 0.0, 0, -1)
        )
        chunks = [pdf for pdf in rows if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        order = np.lexsort(
            (
                pdf["event_id"].values.astype("int64"),
                pdf["ts"].values.astype("datetime64[us]").astype("int64"),
            )
        )
        cents = pdf["c"].values.astype("int64")[order]
        for c in cents:
            x = float(c)
            if n >= _ANOM_MIN_N and m2 > 0.0 and abs(x - mean) / math.sqrt(m2 / n) > _ANOM_Z:
                alerts += 1
                if first < 0:
                    first = n
            n += 1
            delta = x - mean
            mean = mean + delta / n
            m2 = m2 + delta * (x - mean)
        self._state.update((int(n), mean, m2, int(alerts), int(first)))
        yield pd.DataFrame(
            {
                "user_id": np.array([int(key[0])], dtype="int64"),
                "n_events": np.array([int(n)], dtype="int64"),
                "n_alerts": np.array([int(alerts)], dtype="int64"),
                "first_alert_idx": np.array([int(first)], dtype="int64"),
                "mean_value": np.array([math.floor(mean / 100.0 * 1e6) / 1e6]),
                "std_value": np.array([math.floor(math.sqrt(m2 / n) / 100.0 * 1e6) / 1e6]),
            },
            copy=False,
        )

    def close(self) -> None:
        pass


def stream_anomaly_v2(events: DataFrame) -> DataFrame:
    """events stream carrying (user_id, ts, event_id, c cents) → online
    Welford z-score anomaly state per user. Update mode + timeMode None
    (the stream_dedup_v2 drain lesson); RocksDB state store required."""
    if not _HAVE_TWS:
        raise NotImplementedError(
            f"transformWithStateInPandas unavailable: missing {_TWS_MISSING} "
            "(re-probed at import; install the dep to unlock the v2 path)"
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=AnomalyProcessor(),
        outputStructType=ANOM_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
