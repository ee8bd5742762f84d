"""Opt-in per-phase timing collector (parity: timedb/profiling.py).

Disabled by default — no ``perf_counter`` calls when off. Benchmark code
enables it per trial to collect phase-level wall-time breakdowns.
"""

from __future__ import annotations

import time as _time
from contextlib import contextmanager

PHASE_WRITE_NORMALIZE = "write.normalize"
PHASE_WRITE_SERIES_VALUES_INSERT = "write.series_values_insert"
PHASE_WRITE_RUN_SERIES_INSERT = "write.run_series_insert"
PHASE_WRITE_SKIP_UNCHANGED = "write.skip_unchanged"
PHASE_WRITE_TOTAL = "write.total"

_enabled = False
_phases: dict[str, float] = {}


def enable() -> None:
    global _enabled
    _enabled = True


def disable() -> None:
    global _enabled
    _enabled = False


def reset() -> None:
    _phases.clear()


def collect() -> dict[str, float]:
    return dict(_phases)


def _record(phase: str, elapsed: float) -> None:
    if _enabled:
        _phases[phase] = _phases.get(phase, 0.0) + elapsed


@contextmanager
def _phase(phase: str):
    if not _enabled:
        yield
        return
    t = _time.perf_counter()
    try:
        yield
    finally:
        _record(phase, _time.perf_counter() - t)
