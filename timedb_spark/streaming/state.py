"""Stateful latest-per-series streaming read — the streaming twin of
``operators.bitemporal.latest``.

State is keyed by ``series_id`` and holds the per-``valid_time`` winning
``(knowledge_time, change_time, value)`` map (argmax by ``(kt, ct)``,
exactly the batch ``max_by`` semantics) as parallel arrays. Every
micro-batch emits the (series, hour) rows whose winner changed (update
mode).

Scale posture: state size is O(#live (series,hour) keys) × ~32 bytes — a
bounded hot-state cache, not a history; the full history lives in the
store, this operator serves the "current state, now" query that a batch
read would answer with a full-scan collapse.

Throughput note: ``applyInPandasWithState`` invokes Python once per KEY per
micro-batch, so the keying choice is the wall-clock lever. Keying by
``(series_id, valid_time)`` dispatches once per touched hour (~10⁵ calls
per batch on the synthetic feed — measured 21 s at sf0.1); keying by
``series_id`` with the hour map in state dispatches once per touched
series (~10³) and does the per-hour argmax vectorized inside the call.
Same semantics, ~10× fewer Python round-trips. The shuffle key stays as
fine-grained as the real parallelism needs (series count ≫ cores).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:
    import pandas as pd

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.LongType()),
        T.StructField("valid_time", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("knowledge_time", T.TimestampType()),
        T.StructField("change_time", T.TimestampType()),
    ]
)

# state: per-hour winners as parallel arrays (vt/kt/ct as epoch-µs longs:
# GroupState round-trips primitives losslessly; no tz ambiguity).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("vt_us", T.ArrayType(T.LongType())),
        T.StructField("kt_us", T.ArrayType(T.LongType())),
        T.StructField("ct_us", T.ArrayType(T.LongType())),
        T.StructField("value", T.ArrayType(T.DoubleType())),
    ]
)


def _update_latest(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import numpy as np
    import pandas as pd

    if state.exists:
        vt_a, kt_a, ct_a, val_a = state.get
        cur = {v: (k, c, x) for v, k, c, x in zip(vt_a, kt_a, ct_a, val_a)}
    else:
        cur = {}
    changed: dict[int, tuple] = {}
    for pdf in pdfs:
        if not len(pdf):
            continue
        vt = pdf["valid_time"].values.astype("datetime64[us]").astype("int64")
        kt = pdf["knowledge_time"].values.astype("datetime64[us]").astype("int64")
        ct = pdf["change_time"].values.astype("datetime64[us]").astype("int64")
        val = pdf["value"].values
        # vectorized per-hour argmax of (kt, ct): lexsort (last key primary),
        # then the last row of each equal-vt run is that hour's batch winner
        order = np.lexsort((ct, kt, vt))
        vts = vt[order]
        run_ends = np.nonzero(np.r_[vts[1:] != vts[:-1], True])[0]
        for e in run_ends:
            i = int(order[e])
            v = int(vt[i])
            cand = (int(kt[i]), int(ct[i]), float(val[i]))
            best = cur.get(v)
            if best is None or cand[:2] > best[:2]:
                cur[v] = cand
                changed[v] = cand
    if changed:
        vts_s = sorted(cur)
        state.update(
            (
                [int(v) for v in vts_s],
                [cur[v][0] for v in vts_s],
                [cur[v][1] for v in vts_s],
                [cur[v][2] for v in vts_s],
            )
        )
        sid = int(key[0])
        ch = sorted(changed)
        vt_a = np.array(ch, dtype="int64")
        ktct = np.array([changed[v][:2] for v in ch], dtype="int64")
        yield pd.DataFrame(
            {
                "series_id": np.full(len(ch), sid, dtype="int64"),
                "valid_time": vt_a.astype("datetime64[us]"),
                "value": np.array([changed[v][2] for v in ch], dtype="float64"),
                "knowledge_time": ktct[:, 0].astype("datetime64[us]"),
                "change_time": ktct[:, 1].astype("datetime64[us]"),
            }
        )


def stream_latest_state(sv_stream: DataFrame) -> DataFrame:
    """``series_values``-shaped stream → per-(series, valid_time) latest
    state, emitted on change. Update output mode."""
    return sv_stream.groupBy("series_id").applyInPandasWithState(
        _update_latest,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
