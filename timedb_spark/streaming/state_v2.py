"""Stateful streaming operators on the Spark 4 state API v2
(``transformWithStateInPandas``): typed ``ValueState`` / ``ListState`` /
``MapState`` handles, explicit timers and a RocksDB-backed state store
(required by the API; also the store you'd run at 100 TB — changelog
checkpointing + bounded memory, vs the HDFS-backed in-memory map of the v1
``applyInPandasWithState`` API).

Why keep both APIs, per semantic:

- latest state: both. v1 (``streaming/state.py``) keys by series with
  the per-hour map in-band, the cheap form at ``(series, hour)`` grain;
  v2 keys by series with the winner's hour as payload (one state RPC per
  key, see :func:`stream_latest_state_v2`).
- sessionize and funnel: both, one fold each. v1 and v2 call the same
  step (``sessions._fold_pdf`` / ``funnel.funnel_step``); v2 only stores
  state in ValueState / ListState and sets named event-time timers where
  v1 has one timeout slot per key.
- dedup: both. v1 is ``dropDuplicates`` on the key; v2 holds one
  bucket-keyed MapState entry per key, with state TTL as an opt-in.
- top-k users, CUSUM and the Welford anomaly monitor: v2 only.

No v2 name falls back to a v1 twin or a batch operator: where the v2 API
cannot run, every v2 builder raises :func:`_require_tws`'s
``NotImplementedError`` naming the missing precondition.

The v2 protocol is protobuf-framed, so every Spark Python process needs
``google.protobuf``. ``_proto_compat.ensure_protobuf`` vendors a pure-Python
runtime from a public SDK bundle on disk when pip protobuf is absent, and
``session.ensure_package_shipped`` hands its directory to the session's
Python processes (see those and ``_protoshim/sitecustomize.py``); the
exact unmet precondition, when any, is recorded in ``_TWS_MISSING`` and
surfaced in skip messages and the ``NotImplementedError`` gate.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from timedb_spark.streaming._proto_compat import ensure_protobuf
from timedb_spark.streaming.state import OUTPUT_SCHEMA
from timedb_spark.streaming.windows import events_in_order

if TYPE_CHECKING:
    import pandas as pd

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
else:
    # The serializer fast paths must land at MODULE IMPORT: unpickling the
    # processor in a Spark Python worker imports this module before the
    # worker starts pulling the stock load_stream generator (init() runs
    # too late for the current task). They patch pyspark's TWS serializer
    # for the whole process, on the versions _tws_fastpath.TESTED_VERSIONS
    # names only.
    from timedb_spark.streaming._tws_fastpath import patch_serializers

    patch_serializers()


def _require_tws() -> None:
    """The v2 builders' gate: the precise unmet precondition, if any."""
    if not _HAVE_TWS:
        raise NotImplementedError(
            f"transformWithStateInPandas unavailable: missing {_TWS_MISSING} "
            "(re-probed at import; install the dep to unlock the v2 path)"
        )


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


def _us(col: pd.Series):
    return col.values.astype("datetime64[us]").astype("int64")


class LatestProcessor(StatefulProcessor):
    """argmax-by-(kt, ct) per key, ValueState-backed. Keyed by
    ``(series_id, valid_time)`` (state :data:`V2_STATE_SCHEMA`) or, with
    ``per_valid_time=False``, by ``series_id`` alone, the winning row's
    valid_time riding in state (:data:`V2_SERIES_STATE_SCHEMA`).

    Per-key constants are the wall-clock here (one Python dispatch + state
    RPCs + one emitted frame PER KEY) — r14 trims all three: the
    ``_tws_fastpath`` wire codec replaces the pure-Python protobuf builds
    (~120-140 µs/call → ~10 µs, identical bytes), and the emitted one-row
    frame is built from typed numpy arrays with ``copy=False`` (measured
    1,040 µs → 270 µs vs dtype-inferred lists-of-Timestamps)."""

    def __init__(self, per_valid_time: bool):
        self._per_vt = per_valid_time

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_value_state

        patch_implicit_key(handle, pipeline=True)
        schema = V2_STATE_SCHEMA if self._per_vt else V2_SERIES_STATE_SCHEMA
        self._state = wrap_value_state(handle.getValueState("latest", schema))

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        # one get() instead of exists()+get(): every state access is a
        # protobuf round-trip to the JVM state server, and get() already
        # encodes absence as None — per key per batch this is the hot path.
        # State is (kt, ct, value), or (kt, ct, vt, value) when series-keyed.
        cur = self._state.get()
        best = tuple(cur) if cur is not None else None
        changed = False
        for pdf in rows:
            if not len(pdf):
                continue
            kt, ct = _us(pdf["knowledge_time"]), _us(pdf["change_time"])
            i = int(np.lexsort((ct, kt))[-1])
            vt = () if self._per_vt else (int(_us(pdf["valid_time"])[i]),)
            cand = (int(kt[i]), int(ct[i]), *vt, float(pdf["value"].iloc[i]))
            if best is None or cand[:2] > best[:2]:
                best = cand
                changed = True
        if changed:
            self._state.update(best)
            yield pd.DataFrame(
                {
                    "series_id": np.array([int(key[0])], dtype="int64"),
                    "valid_time": np.array(
                        [key[1] if self._per_vt else best[2]], dtype="datetime64[us]"
                    ),
                    "value": np.array([best[-1]], dtype="float64"),
                    "knowledge_time": np.array([best[0]], dtype="datetime64[us]"),
                    "change_time": np.array([best[1]], dtype="datetime64[us]"),
                },
                copy=False,
            )


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
    _require_tws()
    keys = ("series_id", "valid_time") if per_valid_time else ("series_id",)
    return sv_stream.groupBy(*keys).transformWithStateInPandas(
        statefulProcessor=LatestProcessor(per_valid_time),
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
    """The v1 sessionizer's fold (``sessions._fold_pdf``; closed-by-data
    emits inline, idle sessions flushed when the event-time watermark
    passes end + gap) on ValueState + explicit timers."""

    def __init__(self, gap_us: int):
        self._gap_us = gap_us

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_value_state

        patch_implicit_key(handle)
        self._handle = handle
        self._state = wrap_value_state(handle.getValueState("open_session", SESSION_STATE_SCHEMA))

    def handleInputRows(self, key, rows, timerValues):
        from timedb_spark.streaming.sessions import _emit_sessions, _fold_pdf

        (user_id,) = key
        pdf = events_in_order(rows)
        if pdf is None:
            return
        cur = self._state.get()  # one RPC: None encodes absence
        if cur is not None:
            st = tuple(cur)
            open_prev = [st[0], st[1], st[2], st[3]]
            self._handle.deleteTimer(st[4])  # superseded deadline
        else:
            open_prev = None
        closed, open_s = _fold_pdf(pdf, open_prev, self._gap_us)

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


def stream_sessionize_v2(
    events_stream: DataFrame, *, gap_minutes: int = 30, delay: str = "0 seconds"
) -> DataFrame:
    """events-shaped stream → closed sessions on the v2 state API, append
    mode with event-time timers. Same drain contract as
    ``streaming.sessions.stream_sessionize`` (closed-by-data ∪
    timed-out-by-final-watermark). Caller must enable the RocksDB state
    store provider."""
    from timedb_spark.streaming.sessions import OUTPUT_SCHEMA as SESSION_OUTPUT_SCHEMA

    _require_tws()
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


class FunnelProcessor(StatefulProcessor):
    """The v1 funnel's step (``funnel.funnel_step``) on two ListStates +
    explicit timers: stage-1 rows are clicks awaiting a view, stage-2 rows
    carry the matched view and await a purchase. ListState.put replaces
    the whole list per batch — one RPC per stage, not one per entry."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key

        patch_implicit_key(handle)
        self._handle = handle
        self._s1 = handle.getListState("stage1", FUNNEL_S1_SCHEMA)
        self._s2 = handle.getListState("stage2", FUNNEL_S2_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        yield from self._advance(key, rows, timerValues, firing=None)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        # pyspark deletes the firing timer itself once this returns
        yield from self._advance(key, (), timerValues, firing=expiredTimerInfo.getExpiryTimeInMs())

    def _advance(self, key, rows, timerValues, firing):
        """:func:`funnel.funnel_step` over the stored stages; the lists are
        put whole (or cleared) and one timer sits at the earliest deadline."""
        from timedb_spark.streaming.funnel import deadline_ms, funnel_frame, funnel_step

        s1 = [tuple(r) for r in self._s1.get()] if self._s1.exists() else []
        s2 = [tuple(r) for r in self._s2.get()] if self._s2.exists() else []
        wm_ms = max(timerValues.getCurrentWatermarkInMs(), 0)
        s1, s2, out = funnel_step(s1, s2, rows, wm_ms)
        for t in list(self._handle.listTimers()):
            if t != firing:
                self._handle.deleteTimer(t)
        for state, entries in ((self._s1, s1), (self._s2, s2)):
            if entries:
                state.put(entries)
            else:
                state.clear()
        if s1 or s2:
            self._handle.registerTimer(min(deadline_ms(f[0]) for f in s1 + s2))
        if out:
            yield funnel_frame(key[0], out)


def stream_funnel_v2(events_stream: DataFrame, *, delay: str = "0 seconds") -> DataFrame:
    """events-shaped stream → completed/finalized funnels on the v2 state
    API, append mode — same drain contract and full SQL oracle as
    streaming/funnel.py. Caller must enable the RocksDB state store
    provider."""
    from timedb_spark.streaming.funnel import OUTPUT_SCHEMA as FUNNEL_OUTPUT_SCHEMA

    _require_tws()
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
        import pandas as pd

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


def stream_topk_users_v2(events_stream: DataFrame, *, k: int = 10) -> DataFrame:
    """events-shaped stream → per-event_type running top-k users by event
    count (update mode; last emission per (event_type, rank) after a drain
    equals the exact batch top-k). Caller must enable the RocksDB state
    store provider."""
    _require_tws()
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

    Keying (the r5 cardinality lesson, see ``stream_latest_state_v2``): the
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
        import pandas as pd

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

    _require_tws()
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
        import pandas as pd

        cur = self._state.get()
        sp, sn, alarms, mxp, mxn, first, t = (
            tuple(cur) if cur is not None else (0.0, 0.0, 0, 0.0, 0.0, -1, 0)
        )
        # the order-sensitive alarm-reset recursion must see the whole
        # batch in event order to match the batch ts_cusum fold
        pdf = events_in_order(rows)
        if pdf is None:
            return
        mu = float(pdf["mu"].iloc[0])
        sigma = float(pdf["sigma"].iloc[0])
        for c in pdf["c"].values.astype("int64"):
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


def stream_cusum_v2(events_with_params: DataFrame) -> DataFrame:
    """events stream carrying (user_id, ts, event_id, c cents, mu, sigma)
    → online CUSUM state per user. Update mode (append + timeMode="None"
    never terminates an availableNow drain — the stream_dedup_v2 lesson);
    the drain collapses to each key's LAST emission, which equals batch
    ts_cusum. Caller must enable the RocksDB state store provider."""
    _require_tws()
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
    The only state is the 5-field Welford tuple. The fold runs over the
    whole batch in event order, so the drained final emission replays the
    batch prefix recursion its oracle encodes."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        from timedb_spark.streaming._tws_fastpath import patch_implicit_key, wrap_value_state

        patch_implicit_key(handle, pipeline=True)
        self._state = wrap_value_state(handle.getValueState("anom", ANOM_STATE_SCHEMA))

    def handleInputRows(self, key, rows, timerValues):
        import math

        import numpy as np
        import pandas as pd

        cur = self._state.get()
        n, mean, m2, alerts, first = (
            tuple(cur) if cur is not None else (0, 0.0, 0.0, 0, -1)
        )
        pdf = events_in_order(rows)
        if pdf is None:
            return
        for c in pdf["c"].values.astype("int64"):
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


def stream_anomaly_v2(events: DataFrame) -> DataFrame:
    """events stream carrying (user_id, ts, event_id, c cents) → online
    Welford z-score anomaly state per user. Update mode + timeMode None
    (the stream_dedup_v2 drain lesson); RocksDB state store required."""
    _require_tws()
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=AnomalyProcessor(),
        outputStructType=ANOM_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
