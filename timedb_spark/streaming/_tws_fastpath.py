"""Fast paths for the v2 state API's Python boundary, each cutting a
per-call or per-key constant. Three drop-ins for stock pyspark pieces:

- **wire codec** — ``transformWithStateInPandas`` pays one protobuf
  round-trip to the JVM state server per state access per grouping key,
  plus one implicit-key set/remove pair per key. With only a pure-Python
  protobuf runtime, *building* each request costs more than the socket
  round-trip itself (measured r14: ValueStateCall get ~123 µs, update
  ~136 µs, SetImplicitKey ~57 µs, StateResponse parse ~8 µs). The hot
  messages are tiny and fixed-shape, so :class:`_Codec` writes them as
  wire bytes (field numbers read from the generated descriptors) and
  parses ``StateResponse`` with a short field walk: the same bytes, ~10×
  less Python time. Applied from the processors' ``init()`` through
  :func:`wrap_value_state`, :func:`wrap_map_state` and
  :func:`patch_implicit_key`;
- **input chunker** — ``load_stream`` without per-row Python;
- **output coalescer** — ``dump_stream`` with ~256× fewer Arrow batches.
  The last two are installed process-wide by :func:`patch_serializers`.

One engagement rule covers all three: they engage only when the installed
pyspark, pandas and pyarrow versions equal :data:`TESTED_VERSIONS`, the
versions ``tests/test_tws_fastpath.py`` passed on (it compares each piece
case by case with the stock pb2 serializer and the stock pyspark
serializers); the codec also needs the protobuf runtime version to match.
On any other versions stock pyspark stays in place: correct, only slower.
"""

from __future__ import annotations

import functools
import importlib
import struct
import sys
from typing import Any, Optional, Tuple

#: The versions the equivalence tests in tests/test_tws_fastpath.py passed
#: on. To move to a new version: run those tests on it, then bump the entry
#: here (test_tested_versions_are_installed fails until then).
TESTED_VERSIONS = {
    "pyspark": "4.1.2",
    "pandas": "2.2.2",
    "pyarrow": "16.1.0",
    "google.protobuf": "6.32.0",
}


def _version(module: str) -> str:
    """``module.__version__``, read from the installed distribution's
    metadata while the module is not imported yet: the driver-side runner
    that only calls a processor's init() never touches a frame, and must
    not pay the pandas and pyarrow imports for this check."""
    if module not in sys.modules:
        from importlib import metadata

        try:
            return metadata.version(module)
        except metadata.PackageNotFoundError:
            pass
    return importlib.import_module(module).__version__


def _tested(*modules: str) -> bool:
    return all(_version(m) == TESTED_VERSIONS[m] for m in modules)


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _len_frame(field_no: int, payload: bytes) -> bytes:
    """LEN-wiretype field: tag + varint(len) + payload (field_no < 16)."""
    return bytes([(field_no << 3) | 2]) + _varint(len(payload)) + payload


def _bytes_field(field_no: int, payload: bytes) -> bytes:
    """A scalar ``bytes`` field: proto3 OMITS default-valued scalars, so an
    empty payload serializes to nothing (message-typed fields, by
    contrast, keep their empty frame — they carry presence)."""
    return _len_frame(field_no, payload) if payload else b""


class _Codec:
    """Field numbers + encoders for one api-client's hot calls."""

    def __init__(self) -> None:
        import pyspark.sql.streaming.proto.StateMessage_pb2 as SM

        self.SM = SM
        f = SM.StateRequest.DESCRIPTOR.fields_by_name
        self.f_svr = f["stateVariableRequest"].number
        self.f_igk = f["implicitGroupingKeyRequest"].number
        g = SM.StateVariableRequest.DESCRIPTOR.fields_by_name
        self.f_vsc = g["valueStateCall"].number
        v = SM.ValueStateCall.DESCRIPTOR.fields_by_name
        self.f_name = v["stateName"].number
        self.f_get = v["get"].number
        self.f_upd = v["valueStateUpdate"].number
        self.f_clear = v["clear"].number
        u = SM.ValueStateUpdate.DESCRIPTOR.fields_by_name
        self.f_upd_value = u["value"].number
        self.f_msc = g["mapStateCall"].number
        m = SM.MapStateCall.DESCRIPTOR.fields_by_name
        self.f_m_name = m["stateName"].number
        self.f_m_getv = m["getValue"].number
        self.f_m_updv = m["updateValue"].number
        gv = SM.GetValue.DESCRIPTOR.fields_by_name
        self.f_gv_key = gv["userKey"].number
        uv = SM.UpdateValue.DESCRIPTOR.fields_by_name
        self.f_uv_key = uv["userKey"].number
        self.f_uv_value = uv["value"].number
        i = SM.ImplicitGroupingKeyRequest.DESCRIPTOR.fields_by_name
        self.f_setkey = i["setImplicitKey"].number
        self.f_rmkey = i["removeImplicitKey"].number
        s = SM.SetImplicitKey.DESCRIPTOR.fields_by_name
        self.f_key = s["key"].number
        r = SM.StateResponse.DESCRIPTOR.fields_by_name
        self.r_status = r["statusCode"].number
        self.r_err = r["errorMessage"].number
        self.r_value = r["value"].number

    # ---- encoders ------------------------------------------------------
    def enc_value_get(self, state_name: str) -> bytes:
        inner = _len_frame(self.f_name, state_name.encode()) + _len_frame(self.f_get, b"")
        return _len_frame(self.f_svr, _len_frame(self.f_vsc, inner))

    def enc_value_clear(self, state_name: str) -> bytes:
        inner = _len_frame(self.f_name, state_name.encode()) + _len_frame(self.f_clear, b"")
        return _len_frame(self.f_svr, _len_frame(self.f_vsc, inner))

    def enc_value_update(self, state_name: str, value: bytes) -> bytes:
        inner = _len_frame(self.f_name, state_name.encode()) + _len_frame(
            self.f_upd, _bytes_field(self.f_upd_value, value)
        )
        return _len_frame(self.f_svr, _len_frame(self.f_vsc, inner))

    def enc_set_key(self, key: bytes) -> bytes:
        return _len_frame(self.f_igk, _len_frame(self.f_setkey, _bytes_field(self.f_key, key)))

    def enc_remove_key(self) -> bytes:
        return _len_frame(self.f_igk, _len_frame(self.f_rmkey, b""))

    def enc_map_get(self, state_name: str, user_key: bytes) -> bytes:
        inner = _len_frame(self.f_m_name, state_name.encode()) + _len_frame(
            self.f_m_getv, _bytes_field(self.f_gv_key, user_key)
        )
        return _len_frame(self.f_svr, _len_frame(self.f_msc, inner))

    def enc_map_update(self, state_name: str, user_key: bytes, value: bytes) -> bytes:
        inner = _len_frame(self.f_m_name, state_name.encode()) + _len_frame(
            self.f_m_updv,
            _bytes_field(self.f_uv_key, user_key) + _bytes_field(self.f_uv_value, value),
        )
        return _len_frame(self.f_svr, _len_frame(self.f_msc, inner))

    # ---- response parser ----------------------------------------------
    def parse_response(self, buf: bytes) -> Tuple[int, str, bytes]:
        status, err, value = 0, "", b""
        pos, n = 0, len(buf)
        while pos < n:
            tag = buf[pos]
            pos += 1
            field, wire = tag >> 3, tag & 7
            if wire == 0:  # varint
                val, shift = 0, 0
                while True:
                    b = buf[pos]
                    pos += 1
                    val |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                if field == self.r_status:
                    status = val
            elif wire == 2:  # LEN
                ln, shift = 0, 0
                while True:
                    b = buf[pos]
                    pos += 1
                    ln |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                payload = buf[pos : pos + ln]
                pos += ln
                if field == self.r_err:
                    err = payload.decode("utf-8", "replace")
                elif field == self.r_value:
                    value = payload
            else:  # unexpected wiretype: bail to a full pb2 parse
                msg = self.SM.StateResponse()
                msg.ParseFromString(buf)
                return msg.statusCode, msg.errorMessage, msg.value
        return status, err, value


@functools.cache
def _get_codec() -> Optional[_Codec]:
    """The wire codec on the :data:`TESTED_VERSIONS` (protobuf included);
    None, i.e. the stock client, on any other."""
    return _Codec() if _tested(*TESTED_VERSIONS) else None


def _roundtrip(api: Any, msg: bytes, codec: _Codec) -> Tuple[int, str, bytes]:
    """One framed request/response on the api client's socket — the same
    frames _send_proto_message/_receive_proto_message produce, in two
    writes and one read."""
    sockfile = api.sockfile
    sockfile.write(struct.pack(">ii", 0, len(msg)))
    sockfile.write(msg)
    sockfile.flush()
    (length,) = struct.unpack(">i", sockfile.read(4))
    return codec.parse_response(sockfile.read(length))


class _Pipeline:
    """Request pipelining over the state-server socket (one instance per
    api client). The server handles requests strictly in order and sends
    exactly one response per request, so ops whose response carries only a
    status (set/remove implicit key, value update/clear) can be WRITTEN
    without immediately reading — the next response-bearing op (get)
    drains the queue first: statuses are still checked, in order, and a
    non-zero status still fails the query (just one op later). Effective
    round-trips per grouping key drop from 4 (set, get, update, remove) to
    ~1. MUST only be enabled when every RPC on the socket goes through
    this object — i.e. timer-less ValueState processors; any stock client
    call interleaved with a non-empty queue would read the wrong response
    (the reason :func:`patch_implicit_key` drains in the stock-called
    ``set_handle_state`` before delegating)."""

    __slots__ = ("api", "codec", "pending")

    def __init__(self, api: Any, codec: _Codec) -> None:
        self.api = api
        self.codec = codec
        self.pending: list[str] = []

    def send(self, msg: bytes, op: str, defer: bool) -> Optional[Tuple[int, str, bytes]]:
        sockfile = self.api.sockfile
        sockfile.write(struct.pack(">ii", 0, len(msg)))
        sockfile.write(msg)
        if defer:
            # no flush: the buffered writes ride along until a read needs
            # the server to have seen them
            self.pending.append(op)
            return None
        sockfile.flush()
        self.drain()
        (length,) = struct.unpack(">i", sockfile.read(4))
        return self.codec.parse_response(sockfile.read(length))

    def drain(self) -> None:
        if not self.pending:
            return
        sockfile = self.api.sockfile
        sockfile.flush()
        from pyspark.errors import PySparkRuntimeError

        for op in self.pending:
            (length,) = struct.unpack(">i", sockfile.read(4))
            status, err, _ = self.codec.parse_response(sockfile.read(length))
            if status != 0:
                self.pending.clear()
                raise PySparkRuntimeError(f"Error in pipelined {op}: {err}")
        self.pending.clear()


class FastValueState:
    """Drop-in for ``pyspark...ValueState`` with precomputed request
    frames. Identical bytes on the wire; only the Python-side message
    build cost changes — plus, when the api client carries a
    :class:`_Pipeline`, status-only ops (update/clear) are written
    deferred and get() drains the queue first."""

    __slots__ = ("_api", "_codec", "_schema", "_get_msg", "_clear_msg", "_name", "_pipe")

    def __init__(self, api: Any, codec: _Codec, state_name: str, schema: Any) -> None:
        self._api = api
        self._codec = codec
        self._schema = schema
        self._name = state_name
        self._get_msg = codec.enc_value_get(state_name)
        self._clear_msg = codec.enc_value_clear(state_name)
        self._pipe = getattr(api, "_tws_pipe", None)

    def get(self) -> Optional[Tuple]:
        if self._pipe is not None:
            status, err, value = self._pipe.send(self._get_msg, "value get", defer=False)
        else:
            status, err, value = _roundtrip(self._api, self._get_msg, self._codec)
        if status == 0:
            if not value:
                return None
            return tuple(self._api._deserialize_from_bytes(value))
        from pyspark.errors import PySparkRuntimeError

        raise PySparkRuntimeError(f"Error getting value state: {err}")

    def exists(self) -> bool:
        return self.get() is not None

    def update(self, new_value: Tuple) -> None:
        value = self._api._serialize_to_bytes(self._schema, new_value)
        msg = self._codec.enc_value_update(self._name, value)
        if self._pipe is not None:
            self._pipe.send(msg, "value update", defer=True)
            return
        status, err, _ = _roundtrip(self._api, msg, self._codec)
        if status != 0:
            from pyspark.errors import PySparkRuntimeError

            raise PySparkRuntimeError(f"Error updating value state: {err}")

    def clear(self) -> None:
        if self._pipe is not None:
            self._pipe.send(self._clear_msg, "value clear", defer=True)
            return
        status, err, _ = _roundtrip(self._api, self._clear_msg, self._codec)
        if status != 0:
            from pyspark.errors import PySparkRuntimeError

            raise PySparkRuntimeError(f"Error clearing value state: {err}")


class FastMapState:
    """Drop-in for ``pyspark...MapState``: hand-framed getValue/updateValue
    (the per-touched-user hot path); every other call drains any pipeline
    queue and delegates to the stock object — so the stock iterator/keys/
    values paging never interleaves with deferred responses."""

    __slots__ = ("_stock", "_api", "_codec", "_name", "_key_schema", "_value_schema", "_pipe")

    def __init__(self, stock: Any, api: Any, codec: _Codec) -> None:
        self._stock = stock
        self._api = api
        self._codec = codec
        self._name = stock._stateName
        client = stock._mapStateClient
        self._key_schema = client.user_key_schema
        self._value_schema = client.value_schema
        self._pipe = getattr(api, "_tws_pipe", None)

    def getValue(self, key: Tuple) -> Optional[Any]:
        key_bytes = self._api._serialize_to_bytes(self._key_schema, key)
        msg = self._codec.enc_map_get(self._name, key_bytes)
        if self._pipe is not None:
            status, err, value = self._pipe.send(msg, "map getValue", defer=False)
        else:
            status, err, value = _roundtrip(self._api, msg, self._codec)
        if status == 0:
            if not value:
                return None
            return self._api._deserialize_from_bytes(value)
        from pyspark.errors import PySparkRuntimeError

        raise PySparkRuntimeError(f"Error getting value: {err}")

    def updateValue(self, key: Tuple, value: Tuple) -> None:
        key_bytes = self._api._serialize_to_bytes(self._key_schema, key)
        value_bytes = self._api._serialize_to_bytes(self._value_schema, value)
        msg = self._codec.enc_map_update(self._name, key_bytes, value_bytes)
        if self._pipe is not None:
            self._pipe.send(msg, "map updateValue", defer=True)
            return
        status, err, _ = _roundtrip(self._api, msg, self._codec)
        if status != 0:
            from pyspark.errors import PySparkRuntimeError

            raise PySparkRuntimeError(f"Error updating map state value: {err}")

    def _delegate(self, method: str, *args: Any) -> Any:
        if self._pipe is not None:
            self._pipe.drain()
        return getattr(self._stock, method)(*args)

    def exists(self) -> bool:
        return self._delegate("exists")

    def containsKey(self, key: Tuple) -> bool:
        return self._delegate("containsKey", key)

    def iterator(self) -> Any:
        return self._delegate("iterator")

    def keys(self) -> Any:
        return self._delegate("keys")

    def values(self) -> Any:
        return self._delegate("values")

    def removeKey(self, key: Tuple) -> None:
        return self._delegate("removeKey", key)

    def clear(self) -> None:
        return self._delegate("clear")


def wrap_map_state(map_state: Any) -> Any:
    """Return a fast handle for a stock ``MapState`` on the tested
    versions; the stock object itself otherwise."""
    codec = _get_codec()
    if codec is None:
        return map_state
    try:
        client = map_state._mapStateClient
        api = client._stateful_processor_api_client
        if not hasattr(api, "sockfile"):
            return map_state
        return FastMapState(map_state, api, codec)
    except Exception:
        return map_state


def wrap_value_state(value_state: Any) -> Any:
    """Return a fast handle for a stock ``ValueState`` on the tested
    versions; the stock object itself otherwise."""
    codec = _get_codec()
    if codec is None:
        return value_state
    try:
        client = value_state._valueStateClient
        api = client._stateful_processor_api_client
        schema = client.schema
        name = value_state._stateName
        if not hasattr(api, "sockfile"):
            return value_state
        return FastValueState(api, codec, name, schema)
    except Exception:
        return value_state


# ---------------------------------------------------------------------------
# Input-boundary fast path: vectorized key-run slicing for
# TransformWithStateInPandasSerializer.load_stream (guide §4 — the OTHER
# side of the Python boundary). The stock deserializer walks every input
# row through ``DataFrame.itertuples`` (one namedtuple + one key-tuple per
# ROW), groups rows with ``itertools.groupby``, and rebuilds each grouping
# key's chunk with ``pd.DataFrame(list_of_namedtuples)`` — measured ~1.4 ms
# per key on this host, the dominant remaining per-key cost after the wire
# codec. Arrow batches arrive with each key's rows CONTIGUOUS (the stream
# is grouped upstream), so the same chunks are computable with numpy run
# detection over the key columns plus positional ``iloc`` row-slices of the
# batch frame — no per-row Python work at all.
#
# Equivalence contract (tests/test_tws_fastpath.py):
#   - identical (key, chunk) sequence, including CHUNK BOUNDARIES: the
#     stock per-append emission rule (arrow_max_records_per_batch and the
#     average-row-size byte budget, whose average updates at batch starts
#     and therefore mid-accumulation for key runs that straddle batches) is
#     replayed arithmetically, so even a processor sensitive to chunking
#     sees byte-identical inputs;
#   - identical chunk frames: same column names (including the
#     ``namedtuple(rename=True)`` renaming ``itertuples`` applies to
#     keyword/underscore/duplicate names), same dtypes (slices of the
#     arrow_to_pandas frame; cross-batch straddles concat with the same
#     numeric promotion pd.DataFrame-over-scalars performs), fresh
#     RangeIndex;
#   - identical key tuples (``Series.iat`` yields the same scalar types
#     itertuples does).
# ---------------------------------------------------------------------------

_UNLIMITED_BYTES = 2**31 - 1


def _fast_generate_data_batches(ser: Any, batches: Any) -> Any:
    """Yield the exact (key, pandas chunk) stream the stock
    ``generate_data_batches`` closure produces, without per-row Python."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from collections import namedtuple

    renamed_fields = None  # computed once: schema is constant per stream
    pending: list = []  # (pdf, start, end) slices of the current key's unemitted rows
    pending_len = 0
    pending_key: Any = None
    have_pending = False

    def chunk_of(parts: list) -> Any:
        if len(parts) == 1:
            pdf, s, e = parts[0]
            out = pdf.iloc[s:e]
            # direct RangeIndex assignment == reset_index(drop=True) for a
            # positional slice, at half the cost (indexes are immutable, so
            # sharing blocks with the batch frame stays safe)
            out.index = pd.RangeIndex(e - s)
            return out
        return pd.concat([pdf.iloc[s:e] for pdf, s, e in parts], ignore_index=True)

    for batch in batches:
        # verbatim stock byte accounting (average_arrow_row_size is
        # cumulative and updates at batch START, before this batch's rows
        # are appended)
        if ser.arrow_max_bytes_per_batch != _UNLIMITED_BYTES and batch.num_rows > 0:
            batch_bytes = sum(
                buf.size for col in batch.columns for buf in col.buffers() if buf is not None
            )
            ser.total_bytes += batch_bytes
            ser.total_rows += batch.num_rows
            ser.average_arrow_row_size = ser.total_bytes / ser.total_rows
        data_pandas = [
            ser.arrow_to_pandas(c, i)
            for i, c in enumerate(pa.Table.from_batches([batch]).itercolumns())
        ]
        pdf = pd.concat(data_pandas, axis=1)
        n = len(pdf)
        if n == 0:
            continue
        if renamed_fields is None:
            # itertuples builds namedtuple(rename=True) fields: keyword /
            # leading-underscore / duplicate names come out positional
            names = [str(c) for c in pdf.columns]
            renamed_fields = list(namedtuple("Pandas", names, rename=True)._fields)
            if renamed_fields == names:
                renamed_fields = []  # common case: no renaming needed
        if renamed_fields:
            pdf = pdf.set_axis(renamed_fields, axis=1)

        # the smallest chunk length whose append trips the stock emission
        # check (len >= max_records or len * avg >= max_bytes) under THIS
        # batch's average row size
        tau = ser.arrow_max_records_per_batch
        avg = ser.average_arrow_row_size
        if avg and ser.arrow_max_bytes_per_batch != _UNLIMITED_BYTES:
            limit = int(ser.arrow_max_bytes_per_batch / avg)
            while limit * avg < ser.arrow_max_bytes_per_batch:
                limit += 1
            while limit > 1 and (limit - 1) * avg >= ser.arrow_max_bytes_per_batch:
                limit -= 1
            if limit < tau:
                tau = limit
        if tau < 1:
            tau = 1  # stock emits after every append at minimum

        key_series = [data_pandas[o] for o in ser.key_offsets]
        change = np.ones(n, dtype=bool)
        change[1:] = False
        for s_col in key_series:
            arr = s_col.to_numpy()
            np.logical_or(change[1:], arr[1:] != arr[:-1], out=change[1:])
        starts = np.flatnonzero(change)
        # stock key tuples carry SERIES-ITERATION scalars (ndarray.item ⇒
        # Python int/float/bool, DatetimeArray ⇒ Timestamp) — Series.take +
        # tolist applies the identical conversion, vectorized per run
        keys = list(zip(*(col.take(starts).tolist() for col in key_series)))

        for ridx in range(len(starts)):
            s = int(starts[ridx])
            e = int(starts[ridx + 1]) if ridx + 1 < len(starts) else n
            key = keys[ridx]
            if have_pending and key != pending_key:
                yield (pending_key, chunk_of(pending))
                pending, pending_len, have_pending = [], 0, False
            cur, remaining = s, e - s
            if have_pending:
                # the current key continues from the previous batch: fill
                # the pending chunk to tau (at least one append happens
                # even if tau shrank below what is already pending)
                need = tau - pending_len
                if need < 1:
                    need = 1
                if remaining >= need:
                    pending.append((pdf, cur, cur + need))
                    yield (key, chunk_of(pending))
                    pending, pending_len, have_pending = [], 0, False
                    cur += need
                    remaining -= need
                else:
                    pending.append((pdf, cur, e))
                    pending_len += remaining
                    continue
            while remaining >= tau:
                out = pdf.iloc[cur : cur + tau]
                out.index = pd.RangeIndex(tau)
                yield (key, out)
                cur += tau
                remaining -= tau
            if remaining > 0:
                pending = [(pdf, cur, e)]
                pending_len = remaining
                pending_key = key
                have_pending = True
    if have_pending:
        yield (pending_key, chunk_of(pending))


def _fast_load_stream(self: Any, stream: Any) -> Any:
    """Drop-in for TransformWithStateInPandasSerializer.load_stream with
    the vectorized chunker; outer mode framing copied verbatim."""
    from itertools import groupby

    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    from pyspark.sql.streaming.stateful_processor_util import (
        TransformWithStateInPandasFuncMode,
    )

    _batches = ArrowStreamSerializer.load_stream(self, stream)
    data_batches = _fast_generate_data_batches(self, _batches)
    for k, g in groupby(data_batches, key=lambda x: x[0]):
        yield (TransformWithStateInPandasFuncMode.PROCESS_DATA, k, g)
    yield (TransformWithStateInPandasFuncMode.PROCESS_TIMER, None, None)
    yield (TransformWithStateInPandasFuncMode.COMPLETE, None, None)


# ---------------------------------------------------------------------------
# Output-boundary fast path: batch coalescing for
# TransformWithStateInPandasSerializer.dump_stream. The stock path runs one
# ``_create_batch`` + one Arrow IPC write PER EMITTED FRAME — for per-key
# emitters that is one ~2.3 ms batch (plus ~400 B of framing) per grouping
# key, the single largest per-key constant left after the wire codec and
# the input slicer. Consecutive frames with the SAME arrow type, columns
# and dtypes are concatenated (order preserved) up to
# ``_COALESCE_MAX_FRAMES`` frames / ``arrow_max_records_per_batch`` rows,
# so the JVM reads the identical rows in identical order from ~256× fewer
# batches. Unlike the wire codec this is NOT byte-identical — batch
# framing is the thing being amortized — so the equivalence contract is
# row-level: the decoded (schema, row sequence) of the produced IPC stream
# is identical to stock (tests/test_tws_fastpath.py).
#
# The dtype gate is load-bearing, not cosmetic: concatenating an int64
# frame into a float64 run would promote through float64 and can round
# values above 2^53 BEFORE the arrow cast — such frames must (and do) land
# in separate batches, exactly as stock emits them.
# ---------------------------------------------------------------------------

_COALESCE_MAX_FRAMES = 256


def _pdf_dtypes(pdf: Any) -> Any:
    """Per-column dtypes as an ndarray, via the block manager when
    available (~5 µs) with the public accessor as fallback (~75 µs)."""
    mgr = getattr(pdf, "_mgr", None)
    if mgr is not None:
        get = getattr(mgr, "get_dtypes", None)
        if get is not None:
            return get()
    return pdf.dtypes.values


def _fast_dump_stream(self: Any, iterator: Any, stream: Any) -> Any:
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer

    cap_rows = self.arrow_max_records_per_batch

    def coalesced() -> Any:
        buf: list = []
        buf_rows = 0
        buf_type = None
        ref_cols = None
        ref_dtypes = None
        # iterator: iter[list[(iter[pandas.DataFrame], pdf_type)]] — the
        # stock flatten_iterator's shape, one packed entry per UDF call
        for packed in iterator:
            iter_pdf_with_type = packed[0]
            iter_pdf = iter_pdf_with_type[0]
            pdf_type = iter_pdf_with_type[1]
            for pdf in iter_pdf:
                if buf and not (
                    pdf_type is buf_type
                    and len(buf) < _COALESCE_MAX_FRAMES
                    and buf_rows + len(pdf) <= cap_rows
                    and pdf.columns.equals(ref_cols)
                    and np.array_equal(_pdf_dtypes(pdf), ref_dtypes)
                ):
                    yield (
                        buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True),
                        buf_type,
                    )
                    buf, buf_rows = [], 0
                if not buf:
                    buf_type = pdf_type
                    ref_cols = pdf.columns
                    ref_dtypes = _pdf_dtypes(pdf)
                buf.append(pdf)
                buf_rows += len(pdf)
        if buf:
            yield (buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True), buf_type)

    return ArrowStreamPandasUDFSerializer.dump_stream(self, coalesced(), stream)


def patch_serializers() -> None:
    """Swap TransformWithStateInPandasSerializer's ``load_stream`` for the
    vectorized chunker and its ``dump_stream`` for the coalescing writer,
    process-wide, when pyspark, pandas and pyarrow are the
    :data:`TESTED_VERSIONS`; on any other versions stock pyspark stays.
    Idempotent. Must run at MODULE IMPORT in the worker (unpickling the
    processor imports state_v2, which calls this): by the time a
    processor's init() runs, the partition's stock load_stream generator
    is already executing and a class patch could not reach it."""
    if not _tested("pyspark", "pandas", "pyarrow"):
        return
    from pyspark.sql.pandas.serializers import TransformWithStateInPandasSerializer as S

    if "_tws_stock_load_stream" in vars(S):
        return
    S._tws_stock_load_stream, S._tws_stock_dump_stream = S.load_stream, S.dump_stream
    S.load_stream, S.dump_stream = _fast_load_stream, _fast_dump_stream


def patch_implicit_key(handle: Any, pipeline: bool = False) -> None:
    """Rebind ``set_implicit_key``/``remove_implicit_key`` on the ONE
    api-client instance behind ``handle`` with precomputed framing —
    these run once per grouping key for every state-v2 operator. No-op
    off the tested versions.

    ``pipeline=True`` additionally defers their response reads (see
    :class:`_Pipeline`) — ONLY legal for processors whose every RPC flows
    through this module's fast paths, i.e. timer-less ValueState
    processors; the runner's stock ``set_handle_state`` is wrapped to
    drain the queue before it reads."""
    codec = _get_codec()
    if codec is None:
        return
    try:
        api = handle._statefulProcessorApiClient
        if not hasattr(api, "sockfile") or getattr(api, "_tws_fastpath", False):
            return
        remove_msg = codec.enc_remove_key()
        from pyspark.errors import PySparkRuntimeError

        if pipeline:
            pipe = _Pipeline(api, codec)
            api._tws_pipe = pipe

            def set_implicit_key(key: Tuple) -> None:
                key_bytes = api._serialize_to_bytes(api.key_schema, key)
                pipe.send(codec.enc_set_key(key_bytes), "set_implicit_key", defer=True)

            def remove_implicit_key() -> None:
                pipe.send(remove_msg, "remove_implicit_key", defer=True)

            stock_set_handle_state = api.set_handle_state

            def set_handle_state(state: Any) -> None:
                pipe.drain()
                stock_set_handle_state(state)

            api.set_handle_state = set_handle_state
        else:

            def set_implicit_key(key: Tuple) -> None:
                key_bytes = api._serialize_to_bytes(api.key_schema, key)
                status, err, _ = _roundtrip(api, codec.enc_set_key(key_bytes), codec)
                if status != 0:
                    raise PySparkRuntimeError(f"Error setting implicit key: {err}")

            def remove_implicit_key() -> None:
                status, err, _ = _roundtrip(api, remove_msg, codec)
                if status != 0:
                    raise PySparkRuntimeError(f"Error removing implicit key: {err}")

        api.set_implicit_key = set_implicit_key
        api.remove_implicit_key = remove_implicit_key
        api._tws_fastpath = True
    except Exception:
        pass
