"""Smoke test of the benchmark itself: tiny inputs, one seed.

    python3 perfbench/smoke_test.py          # or: python3 -m pytest perfbench/smoke_test.py

For every workload it asserts that

- an untraced run exits 0 and emits every ``end_to_end`` metric of
  ``BENCHMARK.json`` with its unit, and that a run whose result was
  deliberately corrupted (``--corrupt``) is caught: ``correct`` is false
  and at least one op failed;
- a traced run is correct, emits every ``per_layer`` metric with its
  unit, and gives non-zero values for the layers the workload exercises.

Each run starts its own Spark session, so the whole test takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

#: per-layer metrics each workload must fill with a non-zero value
OWN_LAYERS = {
    "store": ["client.write.normalize_ms", "client.write.skip_unchanged_ms", "client.skip_ratio",
              "store.compact_ms", "store.bytes_rewritten_per_user_byte", "store.files_total",
              "client.read_build_ms", "read.plan_ms", "read.stages", "read.tasks", "read.files_read",
              "read.executor_run_ms", "read.rows_scanned_per_row_returned", "store.count_ms"],
    "registry": ["analytics.build_ms", "analytics.executor_run_ms", "analytics.tpch_q3.exec_ms",
                 "io.load_table.events_ms", "stream.latest_v2.drain_ms", "stream.latest_v2.batches",
                 "stream.latest_v2.state_rows"],
}
COMMON_LAYERS = ["session.get_spark_ms", "session.warmup_ms", "trace.overhead_ratio"]


def run(workload: str, *flags: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--tiny", *flags]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, declared: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]


def check_workload(workload: str) -> None:
    bad = run(workload, "--trace", "0", "--corrupt")
    assert_metrics(bad, SPEC["end_to_end"])
    assert bad["correct"] is False and bad["failed"] >= 1, bad
    assert all(v["value"] > 0 for v in bad["metrics"].values()), bad["metrics"]

    traced = run(workload, "--trace", "1")
    assert traced["correct"] is True and traced["failed"] == 0, traced
    assert traced["attempted"] >= 1
    assert_metrics(traced, SPEC["per_layer"])
    for name in OWN_LAYERS[workload] + COMMON_LAYERS:
        assert traced["metrics"][name]["value"] > 0, name


def test_store():
    check_workload("store")


def test_registry():
    check_workload("registry")


if __name__ == "__main__":
    for w in OWN_LAYERS:
        check_workload(w)
        print(f"{w}: ok")
