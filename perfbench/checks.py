"""Output checks: canonical, order-insensitive forms of Spark and DuckDB
results, so a benchmark run can tell a right answer from a fast wrong one.

Cells are rendered the way the repo's parity tool renders them: floats to
9 significant digits, timestamps as ISO strings, NULL as a fixed token.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime

import pandas as pd


def cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().isoformat()
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return str(v)


def canon(cols: list[str], rows) -> list[str]:
    """Rows as sorted strings, columns ordered by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(cell(r[i]) for i in order) for r in rows)


def digest(lines: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive hash) of canonical rows."""
    h = hashlib.sha1()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def spark_canon(rows, cols: list[str] | None = None) -> list[str]:
    """Canonical form of collected Spark ``Row`` objects (all columns, or
    only ``cols``)."""
    if not rows:
        return []
    names = list(rows[0].__fields__)
    keep = cols or names
    idx = [names.index(c) for c in keep]
    return canon(keep, [tuple(r[i] for i in idx) for r in rows])


def duck_canon(con, sql: str, cols: list[str] | None = None) -> list[str]:
    rel = con.sql(sql)
    names = list(rel.columns)
    rows = rel.fetchall()
    keep = cols or names
    idx = [names.index(c) for c in keep]
    return canon(keep, [tuple(r[i] for i in idx) for r in rows])


def corrupt_rows(rows: list) -> list:
    """A copy of ``rows`` with one result row dropped — the deliberate
    corruption the smoke test feeds the checks to prove they catch it."""
    return list(rows[1:])
