"""The per-user cents history the ts_* array operators share, checked
through public operators: ``(ts, event_id)`` order with tied timestamps,
and exact decimal cents where double arithmetic would drift (0.1, 0.2,
1.005 — ``1.005 * 100`` is 100.49999999999999 as a double, 101 cents as a
decimal). Each operator is compared with its DuckDB oracle on the same
rows and with hand-computed values."""

import os
from datetime import datetime

import duckdb
import pandas as pd

from timedb_spark.operators import timeseries as ts

T0 = datetime(2024, 1, 1, 0, 0)
T1 = datetime(2024, 1, 1, 1, 0)


def _rows():
    # user 1: two events share T0 and are stored with event_id out of
    # order; the history must read 5.0, 0.1 (event_id 1, 2), then 1.005.
    # Storage order or value order at the tie gives 0.1, 5.0, 1.005 and a
    # drawdown of 3.99 instead of 4.90.
    # user 2: 0.1, 0.2, 0.3 at one shared ts, stored in reverse.
    # user 3: 2.0 then 1.005, a drop of 99 cents (100 with double cents).
    return pd.DataFrame(
        [
            (2, T0, 1, "x", 0.1, ""),
            (1, T0, 1, "x", 5.0, ""),
            (3, T1, 1, "x", 1.005, ""),
            (12, T0, 2, "x", 0.3, ""),
            (11, T0, 2, "x", 0.2, ""),
            (10, T0, 2, "x", 0.1, ""),
            (20, T0, 3, "x", 2.0, ""),
            (21, T1, 3, "x", 1.005, ""),
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )


def _oracle(pdf, sql):
    con = duckdb.connect()
    con.register("events_df", pdf)
    con.sql("CREATE VIEW events AS SELECT * FROM events_df")
    res = con.sql(sql)
    cols = [d[0] for d in res.description]
    return sorted(tuple(dict(zip(cols, r))[c] for c in sorted(cols)) for r in res.fetchall())


def _spark(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_history_order_and_cents_match_oracle(spark, tmp_path):
    pdf = _rows()
    d = str(tmp_path / "sf")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"))

    dd = {r.series_id: r for r in ts.drawdown(spark, d).collect()}
    # cents [500, 10, 101]: peak 500, worst drop 500 − 10 = 490
    assert dd[1].n_obs == 3
    assert (dd[1].max_drawdown, dd[1].max_drawdown_frac, dd[1].final_peak) == (4.9, 0.98, 5.0)
    # cents [10, 20, 30]: monotone, no drawdown
    assert (dd[2].max_drawdown, dd[2].final_peak) == (0.0, 0.3)
    # cents [200, 101]
    assert (dd[3].max_drawdown, dd[3].max_drawdown_frac) == (0.99, 0.495)
    assert _spark(ts.drawdown(spark, d)) == _oracle(pdf, ts.DRAWDOWN_SQL)

    cu = {r.user_id: r for r in ts.cusum(spark, d).collect()}
    # μ from exact cents: (10 + 500 + 101) / 3 and (10 + 20 + 30) / 3
    assert cu[1].mean_value == 2.036666
    assert cu[2].mean_value == 0.2
    assert _spark(ts.cusum(spark, d)) == _oracle(pdf, ts.CUSUM_SQL)
