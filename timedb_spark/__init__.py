"""timedb_spark — a PySpark-native engine with the query and
data-processing capabilities of rebase-energy/timedb.

The reference (timedb) is a stateless ClickHouse client for 3-dimensional
time series (valid_time / knowledge_time / change_time). This package
re-expresses the same data model and query semantics Spark-first:

- bitemporal reads as declarative DataFrame transforms (Catalyst-optimized,
  partial-aggregable ``max_by`` instead of engine-specific ``argMax``);
- an append-only partitioned-parquet store mirroring the reference's
  ``(retention, month(valid_time))`` partitioning and TTL semantics;
- LLM-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal plumbing) built on the same engine.

Reference parity map: see SURVEY.md §2; per-function docstrings cite
reference file:line.
"""

import importlib

from timedb_spark import profiling

# Probe for a google.protobuf runtime at package import: the state API v2
# needs it in every Spark Python worker, and the worker environment
# (PYTHONPATH -> sitecustomize shim) freezes when the JVM launches — which
# external harnesses typically do AFTER importing this package but outside
# our get_spark. Importing is the earliest hook we own. No-op when pip
# protobuf exists or no vendorable runtime is found (the precise failure is
# re-recorded by streaming.state_v2 for skip messages). Hosts that must not
# have PYTHONPATH/sys.path touched by a library import can set
# TIMEDB_NO_PROTOBUF_PROBE=1 — the probe then only checks for an installed
# protobuf and otherwise leaves the process untouched (v2 gate stays closed
# with that exact reason). The version-check leniency the shim applies is
# scoped to PySpark's own pb2 modules; other protobuf users keep the strict
# upstream validation.
from timedb_spark.streaming._proto_compat import ensure_protobuf as _ensure_protobuf

_ensure_protobuf()
del _ensure_protobuf

#: the rest of the public surface, imported on first access (PEP 562): a
#: Spark Python process that unpickles a function or processor defined in
#: this package imports it, and ``client`` pulls in pandas.
_LAZY = {
    "RETENTION_TIERS": "timedb_spark.schema",
    "SeriesMeta": "timedb_spark.operators.bitemporal",
    "TimeDB": "timedb_spark.client",
    "UnchangedScope": "timedb_spark.client",
    "WriteResult": "timedb_spark.client",
    "get_spark": "timedb_spark.session",
}


def __getattr__(name: str):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(_LAZY[name]), name)
    globals()[name] = value
    return value


def __dir__() -> list[str]:
    return sorted(set(globals()) | set(_LAZY))


#: mirrors the reference's public surface (timedb/__init__.py:24-31):
#: PgEngineMeta → SeriesMeta, TimeDBClient → TimeDB, rest one-to-one.
__all__ = [
    "RETENTION_TIERS",
    "SeriesMeta",
    "TimeDB",
    "UnchangedScope",
    "WriteResult",
    "get_spark",
    "profiling",
]
