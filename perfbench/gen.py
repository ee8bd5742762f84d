"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed and sizes: the library
under test never sees the seed, only the rows (or parquet files) these
functions return.

- :func:`forecast_batch` / :func:`read_store_plan` make the forecast
  vintages that the ``store`` workload writes through ``TimeDB.write``.
- :func:`write_testdata` writes a TPC-H-ish star schema plus ``events`` and
  ``documents`` with the column names and parquet types of the repo's
  registry testdata, so the registry queries and their DuckDB oracles run
  unchanged against it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

UTC = "UTC"


# ---------------------------------------------------------------------------
# Forecast vintages (store)
# ---------------------------------------------------------------------------


def forecast_batch(rng: np.random.Generator, series: np.ndarray, issue: pd.Timestamp, horizon_h: int) -> pd.DataFrame:
    """One forecast vintage: ``horizon_h`` hourly values after ``issue`` for
    every series in ``series`` (tz-aware UTC valid times)."""
    vt = (issue + pd.to_timedelta(np.arange(1, horizon_h + 1), unit="h")).tz_convert(None)
    return pd.DataFrame(
        {
            "series_id": np.repeat(series.astype("int64"), horizon_h),
            "valid_time": pd.DatetimeIndex(np.tile(vt.values, len(series))).tz_localize(UTC),
            "value": rng.normal(100.0, 15.0, len(series) * horizon_h).round(3),
        }
    )


def with_knowledge_time(frames: list[tuple[pd.Timestamp, pd.DataFrame]]) -> pd.DataFrame:
    """Vintages as one frame whose ``knowledge_time`` column is each
    vintage's issue time — what ``TimeDB.write(knowledge_time=issue)``
    stamps on the rows."""
    parts = []
    for kt, df in frames:
        p = df.copy()
        p["knowledge_time"] = kt
        parts.append(p)
    return pd.concat(parts, ignore_index=True)


@dataclass
class StorePlan:
    """The history a store is built from, and where the month the loop's
    writes go to starts."""

    history: pd.DataFrame  # every history vintage, with knowledge_time
    n_series: int
    start: pd.Timestamp
    recent_start: pd.Timestamp


def read_store_plan(seed: int, n_series: int, months: int) -> StorePlan:
    """``months`` of history: one vintage a day, each covering the next
    48 hours, so consecutive vintages overlap by a day."""
    rng = np.random.default_rng(seed)
    start = pd.Timestamp("2025-01-01", tz=UTC)
    recent_start = start + pd.DateOffset(months=months)
    series = np.arange(n_series)
    history = []
    issue = start
    while issue < recent_start:
        history.append((issue, forecast_batch(rng, series, issue, 48)))
        issue = issue + pd.Timedelta(days=1)
    return StorePlan(with_knowledge_time(history), n_series, start, recent_start)


# ---------------------------------------------------------------------------
# Registry testdata (registry)
# ---------------------------------------------------------------------------

_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark line sort window "
    "order data column join small customer query big filter group stream vector".split()
)
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])

US = pa.timestamp("us")


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"), type=US)


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def write_testdata(out_dir: str, seed: int, *, n_users: int, n_events: int, days: int, n_orders: int,
                   n_customers: int, n_parts: int, n_suppliers: int, n_docs: int) -> dict[str, int]:
    """Write the registry tables as ``<out_dir>/<table>.parquet`` and return
    their row counts. Column names and arrow types match the registry's
    testdata (int32 where it has int32, naive µs timestamps), and the value
    domains cover every filter the benchmarked queries apply."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    day_us = 86_400_000_000

    ev_ts = np.sort(rng.integers(0, days * day_us, n_events))
    _write(os.path.join(out_dir, "events.parquet"), {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": _ts_us("2024-01-01", ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events), s),
        "value": pa.array(rng.integers(1, 49_000, n_events) / 100.0, f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s),
    })

    _write(os.path.join(out_dir, "region.parquet"), {
        "r_regionkey": pa.array(np.arange(5), i32), "r_name": pa.array(_REGIONS, s),
    })
    _write(os.path.join(out_dir, "nation.parquet"), {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    _write(os.path.join(out_dir, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_customers), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), i32),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_customers) / 100.0, f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_customers), s),
    })
    _write(os.path.join(out_dir, "supplier.parquet"), {
        "s_suppkey": pa.array(np.arange(n_suppliers), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_suppliers)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_suppliers), i32),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n_suppliers) / 100.0, f64),
    })
    price = 900.0 + np.arange(n_parts) * 0.1
    _write(os.path.join(out_dir, "part.parquet"), {
        "p_partkey": pa.array(np.arange(n_parts), i64),
        "p_name": pa.array([f"part {i}" for i in range(n_parts)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_parts)], s),
        "p_type": pa.array(rng.choice(np.array(["ECONOMY", "SMALL", "LARGE", "STANDARD"]), n_parts), s),
        "p_size": pa.array(rng.integers(1, 51, n_parts), i32),
        "p_retailprice": pa.array(price, f64),
    })

    # Orders span 1994-2001 so TPC-H Q3's and Q5's date filters keep rows.
    o_day = rng.integers(0, 2_770, n_orders)
    _write(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), i64),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders), s),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_orders) / 100.0, f64),
        "o_orderdate": _ts_us("1994-01-01", o_day * day_us),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders), s),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = rng.integers(0, n_parts, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(pkey, i64),
        "l_suppkey": pa.array(rng.integers(0, n_suppliers, n_li), i64),
        "l_linenumber": pa.array(lineno, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * price[pkey], 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li), s),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li), s),
        "l_shipdate": _ts_us("1994-01-01", (o_day[okey] + rng.integers(1, 121, n_li)) * day_us),
    })

    texts = [" ".join(rng.choice(_WORDS, rng.integers(8, 60))) for _ in range(n_docs)]
    _write(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(_LANGS, n_docs), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    return {"events": n_events, "orders": n_orders, "lineitem": n_li, "customer": n_customers,
            "part": n_parts, "supplier": n_suppliers, "documents": n_docs}
