"""Equivalence tests for streaming._tws_fastpath.

The three fast paths engage only on the versions
``_tws_fastpath.TESTED_VERSIONS`` names, and these tests are what makes a
version "tested": the wire codec is byte-equal to the pb2 serializer for
every encoder and the response parser, the input chunker yields the stock
``load_stream``'s exact (key, chunk) stream, and the output coalescer's
IPC stream decodes to the stock ``dump_stream``'s rows. The end-to-end
behavior (same drained results) is covered by the stream gate parities
and test_streaming.py.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from timedb_spark.streaming.state_v2 import _HAVE_TWS

pytestmark = pytest.mark.skipif(not _HAVE_TWS, reason="state API v2 unavailable")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: a stand-in ValueState that wrap_value_state would wrap on the tested
#: versions (the subprocess checks below build the same one)
_FAKE_VALUE_STATE = """
from types import SimpleNamespace as NS
fake = NS(_stateName="latest", _valueStateClient=NS(
    schema=None, _stateful_processor_api_client=NS(sockfile=None)))
"""


@pytest.fixture(scope="module")
def codec():
    from timedb_spark.streaming._tws_fastpath import _Codec

    return _Codec()


def _pb2():
    import pyspark.sql.streaming.proto.StateMessage_pb2 as SM

    return SM


def test_value_get_clear_bytes_match_pb2(codec):
    SM = _pb2()
    for name in ("latest", "anom", "cusum", "open_session", "x" * 40, "s" * 120):
        ref = SM.StateRequest(
            stateVariableRequest=SM.StateVariableRequest(
                valueStateCall=SM.ValueStateCall(stateName=name, get=SM.Get())
            )
        ).SerializeToString()
        assert codec.enc_value_get(name) == ref
        ref = SM.StateRequest(
            stateVariableRequest=SM.StateVariableRequest(
                valueStateCall=SM.ValueStateCall(stateName=name, clear=SM.Clear())
            )
        ).SerializeToString()
        assert codec.enc_value_clear(name) == ref


def test_value_update_bytes_match_pb2_across_lengths(codec):
    SM = _pb2()
    # spans the 1- and 2-byte varint-length boundaries (127/128, 16383/16384)
    for n in (0, 1, 40, 126, 127, 128, 300, 16383, 16384, 20000, 70000):
        payload = b"v" * n
        ref = SM.StateRequest(
            stateVariableRequest=SM.StateVariableRequest(
                valueStateCall=SM.ValueStateCall(
                    stateName="latest", valueStateUpdate=SM.ValueStateUpdate(value=payload)
                )
            )
        ).SerializeToString()
        assert codec.enc_value_update("latest", payload) == ref


def test_implicit_key_bytes_match_pb2(codec):
    SM = _pb2()
    for n in (0, 1, 40, 127, 128, 300, 5000, 20000):
        payload = b"k" * n
        ref = SM.StateRequest(
            implicitGroupingKeyRequest=SM.ImplicitGroupingKeyRequest(
                setImplicitKey=SM.SetImplicitKey(key=payload)
            )
        ).SerializeToString()
        assert codec.enc_set_key(payload) == ref
    ref = SM.StateRequest(
        implicitGroupingKeyRequest=SM.ImplicitGroupingKeyRequest(
            removeImplicitKey=SM.RemoveImplicitKey()
        )
    ).SerializeToString()
    assert codec.enc_remove_key() == ref


def test_map_get_update_bytes_match_pb2(codec):
    SM = _pb2()
    for key in (b"", b"k", b"k" * 200):
        ref = SM.StateRequest(
            stateVariableRequest=SM.StateVariableRequest(
                mapStateCall=SM.MapStateCall(stateName="counts", getValue=SM.GetValue(userKey=key))
            )
        ).SerializeToString()
        assert codec.enc_map_get("counts", key) == ref
        for value in (b"", b"v" * 40, b"v" * 300):
            ref = SM.StateRequest(
                stateVariableRequest=SM.StateVariableRequest(
                    mapStateCall=SM.MapStateCall(
                        stateName="counts", updateValue=SM.UpdateValue(userKey=key, value=value)
                    )
                )
            ).SerializeToString()
            assert codec.enc_map_update("counts", key, value) == ref


def test_response_parser_round_trips_pb2(codec):
    SM = _pb2()
    cases = [
        (0, "", b""),
        (2, "", b""),
        (1, "state does not exist", b""),
        (1, "boom", b"\x01\x02"),
        (0, "", b"\x80\x05K\x01."),
        (0, "", b"v" * 300),
        (0, "", b"v" * 40000),
        (7, "unicode érror", b"\x00"),
    ]
    for status, err, value in cases:
        buf = SM.StateResponse(
            statusCode=status, errorMessage=err, value=value
        ).SerializeToString()
        assert codec.parse_response(buf) == (status, err, value)


def test_wrap_value_state_falls_back_on_alien_object(codec):
    from timedb_spark.streaming._tws_fastpath import wrap_value_state

    sentinel = object()
    assert wrap_value_state(sentinel) is sentinel


# ---------------------------------------------------------------------------
# Input-boundary fast path (vectorized load_stream). Safety story mirrors
# the wire codec's: chunk-for-chunk equality with the stock pyspark
# deserializer, asserted here on adversarial streams.
# ---------------------------------------------------------------------------


def _stock_load_stream():
    from pyspark.sql.pandas.serializers import TransformWithStateInPandasSerializer as S

    return getattr(S, "_tws_stock_load_stream", S.load_stream)


def _ipc_bytes(schema, batches):
    import io

    import pyarrow as pa

    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, schema) as w:
        for b in batches:
            w.write_batch(b)
    return buf.getvalue()


def _mk_ser(key_offsets, max_records=10_000, max_bytes=2**31 - 1):
    from pyspark.sql.pandas.serializers import TransformWithStateInPandasSerializer as S

    s = S("UTC", False, True, max_records, max_bytes, False)
    s.key_offsets = key_offsets
    return s


def _drain_modes(load_stream, ser, ipc_bytes):
    """Materialize a load_stream generator fully: [(mode, key, [chunks])]."""
    import io

    out = []
    for mode, key, group in load_stream(ser, io.BytesIO(ipc_bytes)):
        out.append((mode, key, None if group is None else [pdf for _, pdf in group]))
    return out


def _assert_streams_identical(ipc, key_offsets, max_records=10_000, max_bytes=2**31 - 1):
    import pandas as pd

    from timedb_spark.streaming._tws_fastpath import _fast_load_stream

    s_stock = _mk_ser(key_offsets, max_records, max_bytes)
    s_fast = _mk_ser(key_offsets, max_records, max_bytes)
    ref = _drain_modes(_stock_load_stream(), s_stock, ipc)
    got = _drain_modes(_fast_load_stream, s_fast, ipc)
    assert len(ref) == len(got)
    for (m1, k1, c1), (m2, k2, c2) in zip(ref, got):
        assert m1 == m2
        assert k1 == k2
        if k1 is not None:
            # scalar TYPES too: the key feeds _serialize_to_bytes and the
            # outer groupby's equality
            assert tuple(map(type, k1)) == tuple(map(type, k2))
        assert (c1 is None) == (c2 is None)
        if c1 is None:
            continue
        assert [len(p) for p in c1] == [len(p) for p in c2]  # chunk boundaries
        for p1, p2 in zip(c1, c2):
            pd.testing.assert_frame_equal(p1, p2, check_exact=True)
    # cumulative byte accounting must evolve identically (it feeds the
    # NEXT batch's chunk threshold)
    assert (s_stock.total_bytes, s_stock.total_rows, s_stock.average_arrow_row_size) == (
        s_fast.total_bytes,
        s_fast.total_rows,
        s_fast.average_arrow_row_size,
    )


def test_input_fastpath_patch_engages_from_state_v2_import():
    from pyspark.sql.pandas.serializers import TransformWithStateInPandasSerializer as S

    import timedb_spark.streaming.state_v2  # noqa: F401  (import applies the patch)

    assert S.load_stream is not S._tws_stock_load_stream
    # the init-state subclass keeps its own stock load_stream
    from pyspark.sql.pandas.serializers import (
        TransformWithStateInPandasInitStateSerializer as S2,
    )

    assert "load_stream" in vars(S2)


def test_input_fastpath_straddling_key_with_record_chunking():
    import pyarrow as pa

    sch = pa.schema([("k", pa.int64()), ("v", pa.float64())])
    b1 = pa.record_batch(
        [pa.array([1, 2, 2, 2, 2, 3, 3]), pa.array([0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5])],
        schema=sch,
    )
    b2 = pa.record_batch(
        [pa.array([3, 3, 3, 3, 4]), pa.array([4.0, 4.5, 5.0, 5.5, 6.0])], schema=sch
    )
    _assert_streams_identical(_ipc_bytes(sch, [b1, b2]), [0], max_records=3)
    # and with a chunk emitted exactly at the batch boundary (key 3 has 2+4
    # rows, max_records=2: pending empties right at the boundary)
    _assert_streams_identical(_ipc_bytes(sch, [b1, b2]), [0], max_records=2)


def test_input_fastpath_byte_budget_chunking_with_width_change():
    import pyarrow as pa

    # row width drops between batches, so the cumulative average (and the
    # effective chunk length) changes MID-KEY — the trickiest stock behavior
    sch = pa.schema([("k", pa.int64()), ("s", pa.string())])
    b1 = pa.record_batch([pa.array([1] * 6), pa.array(["x" * 40] * 6)], schema=sch)
    b2 = pa.record_batch([pa.array([1] * 5 + [2]), pa.array(["y"] * 6)], schema=sch)
    _assert_streams_identical(_ipc_bytes(sch, [b1, b2]), [0], max_bytes=200)
    _assert_streams_identical(_ipc_bytes(sch, [b1, b2]), [0], max_bytes=90)


def test_input_fastpath_renamed_and_duplicate_columns():
    import pyarrow as pa

    # itertuples renames keyword / leading-underscore / duplicate columns
    # positionally; the fast path must reproduce that exactly
    sch = pa.schema(
        [("k", pa.int64()), ("class", pa.int64()), ("_v", pa.float64()), ("k", pa.int64())]
    )
    b = pa.record_batch(
        [
            pa.array([1, 1, 2]),
            pa.array([9, 8, 7]),
            pa.array([0.1, 0.2, 0.3]),
            pa.array([5, 6, 7]),
        ],
        schema=sch,
    )
    _assert_streams_identical(_ipc_bytes(sch, [b]), [0], max_records=2)


def test_input_fastpath_two_column_key_string_payload():
    import pyarrow as pa

    sch = pa.schema([("sid", pa.int64()), ("vt", pa.timestamp("us")), ("txt", pa.string())])
    ts = [1_700_000_000_000_000 + i * 3_600_000_000 for i in (0, 0, 1, 1, 2)]
    b = pa.record_batch(
        [
            pa.array([7, 7, 7, 8, 8]),
            pa.array(ts, type=pa.timestamp("us")),
            pa.array(["a", "b", "c", "d", "e"]),
        ],
        schema=sch,
    )
    _assert_streams_identical(_ipc_bytes(sch, [b]), [0, 1])


def test_input_fastpath_nat_key_and_nullable_payload():
    import pyarrow as pa

    # int payload nullable in one batch only; NaT timestamp key rows
    ts = [1_700_000_000_000_000 + i * 3_600_000_000 for i in range(3)]
    sch = pa.schema([("k", pa.timestamp("us")), ("x", pa.int64())])
    b1 = pa.record_batch(
        [pa.array([ts[0], ts[0], None], type=pa.timestamp("us")), pa.array([1, None, 3])],
        schema=sch,
    )
    b2 = pa.record_batch([pa.array([ts[2]] * 2, type=pa.timestamp("us")), pa.array([4, 5])], schema=sch)
    _assert_streams_identical(_ipc_bytes(sch, [b1, b2]), [0])


def test_input_fastpath_key_straddles_empty_batch():
    import pyarrow as pa

    # key 2 continues across an empty batch into a single-row tail batch
    sch = pa.schema([("k", pa.int64()), ("v", pa.float64())])
    b1 = pa.record_batch([pa.array([1, 2]), pa.array([1.0, 2.0])], schema=sch)
    empty = pa.record_batch([pa.array([], type=pa.int64()), pa.array([], type=pa.float64())], schema=sch)
    b3 = pa.record_batch([pa.array([2]), pa.array([3.0])], schema=sch)
    _assert_streams_identical(_ipc_bytes(sch, [b1, empty, b3]), [0])


# ---------------------------------------------------------------------------
# Output-boundary fast path (coalescing dump_stream). Equivalence is
# row-level by design: batch framing is the thing being amortized, so the
# assertions decode both IPC streams and compare (schema, row sequence).
# ---------------------------------------------------------------------------


def _out_atype():
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(
        T.StructType(
            [
                T.StructField("sid", T.LongType()),
                T.StructField("vt", T.TimestampType()),
                T.StructField("v", T.DoubleType()),
            ]
        )
    )


def _out_frame(i, rows=1, as_float=False):
    import numpy as np
    import pandas as pd

    vals = np.arange(rows, dtype="int64") + i
    return pd.DataFrame(
        {
            "sid": vals.astype("float64") if as_float else vals,
            "vt": np.array(["2024-01-01"] * rows, dtype="datetime64[us]"),
            "v": np.full(rows, 0.5),
        },
        copy=False,
    )


def _decode_arrow_stream(raw):
    """(schema, rows-frame) of a worker output stream; None for empty."""
    import io

    import pyarrow as pa

    if not raw:
        return None
    # strip the out-of-band START_ARROW_STREAM marker ``dump_stream``
    # writes before the first batch
    rd = pa.ipc.open_stream(io.BytesIO(raw[4:]))
    tbl = pa.Table.from_batches(list(rd), schema=rd.schema)
    return (tbl.schema, tbl.to_pandas())


def _assert_dumps_identical(entries, max_records=10_000):
    import io

    import pandas as pd
    from pyspark.sql.pandas.serializers import TransformWithStateInPandasSerializer as S

    from timedb_spark.streaming._tws_fastpath import _fast_dump_stream

    stock = getattr(S, "_tws_stock_dump_stream", S.dump_stream)

    def packed():
        for frames, t in entries:
            yield [(iter(frames), t)]

    s1 = S("UTC", False, True, max_records, 2**31 - 1, False)
    s2 = S("UTC", False, True, max_records, 2**31 - 1, False)
    b1, b2 = io.BytesIO(), io.BytesIO()
    stock(s1, packed(), b1)
    _fast_dump_stream(s2, packed(), b2)
    ref = _decode_arrow_stream(b1.getvalue())
    got = _decode_arrow_stream(b2.getvalue())
    assert (ref is None) == (got is None)
    if ref is not None:
        assert ref[0] == got[0]  # arrow schema
        pd.testing.assert_frame_equal(ref[1], got[1], check_exact=True)
    return b1.getvalue(), b2.getvalue()


def test_state_v2_import_engages_all_three_fast_paths():
    from pyspark.sql.pandas.serializers import TransformWithStateInPandasSerializer as S

    import timedb_spark.streaming.state_v2  # noqa: F401  (import applies the patch)
    from timedb_spark.streaming._tws_fastpath import (
        FastValueState,
        _fast_dump_stream,
        _fast_load_stream,
        wrap_value_state,
    )

    assert S.load_stream is _fast_load_stream
    assert S.dump_stream is _fast_dump_stream
    scope = {}
    exec(_FAKE_VALUE_STATE, scope)
    assert isinstance(wrap_value_state(scope["fake"]), FastValueState)


def _run_checkout(code):
    r = subprocess.run([sys.executable, "-c", code, ROOT], capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout


def test_untested_pyspark_version_keeps_stock_pyspark():
    out = _run_checkout(
        """
import sys
sys.path.insert(0, sys.argv[1])
import pyspark
pyspark.__version__ = "0.0.untested"
from pyspark.sql.pandas.serializers import TransformWithStateInPandasSerializer as S
stock = (S.load_stream, S.dump_stream)
from timedb_spark.streaming import state_v2
from timedb_spark.streaming._tws_fastpath import wrap_value_state
assert state_v2._HAVE_TWS
assert (S.load_stream, S.dump_stream) == stock
"""
        + _FAKE_VALUE_STATE
        + """
assert wrap_value_state(fake) is fake
print("STOCK")
"""
    )
    assert out.strip() == "STOCK"


def test_package_import_leaves_tws_serializer_untouched():
    out = _run_checkout(
        """
import sys
sys.path.insert(0, sys.argv[1])
import timedb_spark
from pyspark.sql.pandas.serializers import TransformWithStateInPandasSerializer as S
assert "timedb_spark.streaming.state_v2" not in sys.modules
assert "_tws_stock_load_stream" not in vars(S)
assert S.load_stream.__module__ == S.dump_stream.__module__ == "pyspark.sql.pandas.serializers"
print("UNTOUCHED")
"""
    )
    assert out.strip() == "UNTOUCHED"


def test_tested_versions_are_installed():
    """An upgrade of any keyed package fails here until this file has been
    re-run on the new version and TESTED_VERSIONS bumped to it."""
    import importlib

    from timedb_spark.streaming._tws_fastpath import TESTED_VERSIONS

    assert {m: importlib.import_module(m).__version__ for m in TESTED_VERSIONS} == TESTED_VERSIONS


def test_output_fastpath_coalesces_per_key_emissions():
    atype = _out_atype()
    raw_stock, raw_fast = _assert_dumps_identical(
        [([_out_frame(i)], atype) for i in range(300)]
    )
    # the point of the patch: far fewer, far smaller wire bytes
    assert len(raw_fast) < len(raw_stock) / 4


def test_output_fastpath_dtype_flip_never_promotes_big_ints():
    import numpy as np
    import pandas as pd

    atype = _out_atype()
    big = 2**60  # would round through float64 promotion
    big_frame = pd.DataFrame(
        {
            "sid": np.array([big, big + 1], dtype="int64"),
            "vt": np.array(["2024-01-01"] * 2, dtype="datetime64[us]"),
            "v": np.array([1.0, 2.0]),
        }
    )
    _assert_dumps_identical(
        [([big_frame], atype), ([_out_frame(3, as_float=True)], atype), ([big_frame], atype)]
    )


def test_output_fastpath_column_reorder_and_sizes():
    atype = _out_atype()
    reordered = _out_frame(7)[["v", "vt", "sid"]]
    _assert_dumps_identical(
        [
            ([_out_frame(0), _out_frame(1)], atype),
            ([reordered], atype),
            ([_out_frame(2, rows=15_000)], atype),  # oversized: no split, like stock
            ([_out_frame(3, rows=0)], atype),  # empty frame
            ([], atype),  # UDF call emitting nothing
            ([_out_frame(4, rows=3)], atype),
        ],
        max_records=1_000,
    )


@pytest.mark.parametrize(
    "case", ["column_order_flip", "mixed_sizes", "multi_frame_and_empty_calls", "nothing_emitted"]
)
def test_output_fastpath_stream_shapes(case):
    atype = _out_atype()
    calls = {
        # the same arrow type; stock assigns columns by name
        "column_order_flip": [[_out_frame(0), _out_frame(1)], [_out_frame(7)[["v", "vt", "sid"]]], [_out_frame(2)]],
        "mixed_sizes": [[_out_frame(0, rows=15_000)], [_out_frame(1, rows=0)], [_out_frame(2, rows=3)]],
        "multi_frame_and_empty_calls": [[_out_frame(0), _out_frame(1), _out_frame(2)], [], [_out_frame(3)]],
        "nothing_emitted": [],
    }[case]
    _assert_dumps_identical([(frames, atype) for frames in calls])


def test_input_fastpath_timestamp_key_nulls_and_empty_batches():
    import pyarrow as pa

    ts = [1_700_000_000_000_000 + i * 3_600_000_000 for i in range(3)]
    sch = pa.schema([("sid", pa.int64()), ("vt", pa.timestamp("us")), ("x", pa.int64())])
    b1 = pa.record_batch(
        [
            pa.array([7, 7, 7, 8]),
            pa.array([ts[0], ts[0], ts[1], None], type=pa.timestamp("us")),
            pa.array([1, None, 3, 4]),
        ],
        schema=sch,
    )
    b_empty = pa.record_batch(
        [
            pa.array([], type=pa.int64()),
            pa.array([], type=pa.timestamp("us")),
            pa.array([], type=pa.int64()),
        ],
        schema=sch,
    )
    b2 = pa.record_batch(
        [
            pa.array([8, 9]),
            pa.array([ts[2]] * 2, type=pa.timestamp("us")),
            pa.array([5, 6]),
        ],
        schema=sch,
    )
    _assert_streams_identical(_ipc_bytes(sch, [b1, b_empty, b2]), [0, 1])
