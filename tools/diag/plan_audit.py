"""Full-registry physical-plan audit (r13 optimization round).

Builds every non-stateful registered query's DataFrame at a given SF and
counts plan-shape red flags: sort-based aggregates, Python eval nodes,
cartesian products, sort-merge joins, exchanges, window sorts. Writes one
JSON summary so the per-family optimization checklist in
OPTIMIZATION_r13.md is derived from the ACTUAL plans, not memory.

Usage: python tools/diag/plan_audit.py [sf_dir] [out.json]
Planning only for pure-batch queries; store-/stream-backed gates are
skipped (their materialization step runs real jobs).
"""

from __future__ import annotations

import json
import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402

#: mirror of tests/test_plan_shape.py::_STATEFUL_GATES — store/stream
#: materializers whose "plan" is just the final aggregate scan.
SKIP = {
    "fast_count", "partition_stats", "snap_time_travel", "snap_vacuum",
    "client_write_validation", "client_null_sentinel",
    "store_compact_zorder", "store_retention_ttl", "store_delete_series",
    "store_landing_ingest", "rollup_continuous_agg",
    "rollup_bitemporal_agg", "rollup_pit_backtest",
    "rollup_retention_refresh", "stream_ingest_once",
    "bt_write_skip_unchanged",
}

FLAGS = {
    "SortAggregate": r"\bSortAggregate\b",
    "ObjectHashAggregate": r"\bObjectHashAggregate\b",
    "BatchEvalPython": r"\bBatchEvalPython\b",
    "ArrowEvalPython": r"\bArrowEvalPython\b",
    "MapInPandas": r"\b(MapInPandas|PythonMapInArrow|FlatMapGroupsInPandas)\b",
    "Cartesian": r"\b(CartesianProduct|BroadcastNestedLoopJoin)\b",
    "SortMergeJoin": r"\bSortMergeJoin\b",
    "ShuffledHashJoin": r"\bShuffledHashJoin\b",
    "BroadcastHashJoin": r"\bBroadcastHashJoin\b",
    # hash/range partitioning render lowercase; a 1-row global collapse
    # renders 'Exchange SinglePartition' (capital S) — match all three.
    "Exchange": r"\bExchange (hash|range|Single|single)",
    "Expand": r"\bExpand\b",
    "Window": r"\bWindow\b",
    "Sort": r"\bSort \[",
    "Generate": r"\bGenerate\b",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_audit.json"
    spark = get_spark("timedb_spark-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if name in SKIP or name.startswith("stream_"):
            continue
        try:
            df = fn(spark, sf_dir)
            s = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            report[name] = {"error": str(exc)[:200]}
            continue
        counts = {k: len(re.findall(p, s)) for k, p in FLAGS.items()}
        report[name] = {k: v for k, v in counts.items() if v}
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    # console: the suspicious ones
    for name, c in sorted(report.items()):
        if c.get("error") or c.get("BatchEvalPython") or c.get("Cartesian") or c.get("SortAggregate"):
            print(name, c, flush=True)
    print("wrote", out_path, f"({len(report)} queries)", flush=True)


if __name__ == "__main__":
    main()
