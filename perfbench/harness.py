"""Run-time plumbing shared by the workloads: the Spark session the
benchmark drives, the closed-loop op recorder, the span tracer and the
reader of Spark's live status stores.

Tracing is off unless ``--trace 1``: with it off, an op costs two
``perf_counter`` calls on top of the library call it wraps. A traced run
traces every other round and leaves the rounds between untraced, so that
the two kinds of round give the tracing overhead.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile that has at least ten
    samples above it, or (None, None) when that percentile would not be
    above the median (fewer than 20 samples)."""
    n = len(xs)
    if n < 20:
        return None, None
    pct = math.floor(100.0 * (n - 10) / n)
    s = sorted(xs)
    # nearest-rank: the smallest sample with at least pct% of samples at or below it
    k = max(0, math.ceil(pct / 100.0 * n) - 1)
    return float(pct), float(s[k])


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""

    def hwm_kb(pid: str) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = str(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the driver JVM and the Python workers it forks, counting
    exited workers their parents have reaped. Time the host steals from
    this VM is not in it."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended
            continue
        f = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])  # utime, stime, cutime, cstime
    total, todo = 0, [os.getpid()]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / _TICKS


def host_steal_s() -> float:
    """CPU seconds the host has stolen from this VM so far, over all its
    CPUs: time other tenants ran while this VM's processes waited."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICKS


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def prepare_process(work_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work_dir``, and make the library importable by Spark's Python
    workers. Must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = checkout_root()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Shared machines: a 2 GB driver heap is ample for these input sizes.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = None
    if root not in sys.path:
        sys.path.insert(0, root)


def session_conf(work_dir: str) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation": os.path.join(work_dir, "checkpoints"),
        # The traced run reads per-op stage and SQL data back from the live
        # status stores; keep enough history that nothing is evicted.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the library's layers, kept in memory and
    written once when the run ends. Disabled, :meth:`span` does nothing.
    A traced run switches it on and off between rounds."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": op, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [dict(s, start=s["start"] - t0, end=(s["end"] or s["start"]) - t0) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(out, fh)


# ---------------------------------------------------------------------------
# Spark status stores (live, never the event log)
# ---------------------------------------------------------------------------


def _num(s: str) -> float:
    """A SQL metric's display string as a number (sum metrics only)."""
    try:
        return float(s.replace(",", "").split()[0])
    except (ValueError, IndexError):
        return 0.0


class SparkStats:
    """Per-op stage and SQL-operator metrics read from the application's
    live status store and the shared SQL status store. Ops are told apart
    by job group, so only jobs started from the benchmark's thread count
    (a streaming query's micro-batches run on their own thread)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty_list = spark._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(spark._jvm.double, 0)

    def begin(self, group: str) -> int:
        self.sc.setJobGroup(group, group)
        return int(self._sql.executionsCount())

    def end(self, group: str, sql_from: int) -> dict:
        self.sc._jsc.clearJobGroup()
        try:
            self._bus.waitUntilEmpty(10_000)
        except Exception:  # a TimeoutException leaves the numbers partial, never wrong-op
            traceback.print_exc()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        jobs = tracker.getJobIdsForGroup(group)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        st = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
              "shuffle_bytes": 0.0, "spill_bytes": 0.0, "files_read": 0.0, "rows_scanned": 0.0}
        for sid in stage_ids:
            seq = self._store.stageData(sid, False, self._empty_list, False, self._no_quantiles)
            for i in range(seq.length()):
                sd = seq.apply(i)
                if sd.status().toString() != "COMPLETE":
                    continue
                st["stages"] += 1
                st["tasks"] += sd.numCompleteTasks()
                st["executor_run_ms"] += sd.executorRunTime()
                st["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                st["shuffle_bytes"] += sd.shuffleWriteBytes()
                st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        n = int(self._sql.executionsCount()) - sql_from
        if n > 0:
            execs = self._sql.executionsList(sql_from, n)
            for i in range(execs.length()):
                eid = execs.apply(i).executionId()
                values = self._sql.executionMetrics(eid)
                nodes = self._sql.planGraph(eid).allNodes()
                for j in range(nodes.length()):
                    node = nodes.apply(j)
                    if not node.name().startswith("Scan"):
                        continue
                    ms = node.metrics()
                    for k in range(ms.length()):
                        m = ms.apply(k)
                        v = values.get(m.accumulatorId())
                        if v.isEmpty():
                            continue
                        if m.name() == "number of files read":
                            st["files_read"] += _num(v.get())
                        elif m.name() == "number of output rows":
                            st["rows_scanned"] += _num(v.get())
        return st


def plan_ms(df) -> float:
    """Catalyst optimization + planning time of the query ``df`` last ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return float(total)


# ---------------------------------------------------------------------------
# Closed-loop op recorder
# ---------------------------------------------------------------------------


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    round: int
    stats: dict = field(default_factory=dict)


@dataclass
class Round:
    number: int
    seconds: float
    cpu_s: float
    traced: bool
    # a warm-up round: its ops are checked but not timed into any figure
    warm: bool = False


class Recorder:
    """Times each op of the single client's closed loop. An op that raises
    counts as failed and the loop goes on; a later output check can mark
    an op failed too."""

    def __init__(self, spark, tracer: Tracer):
        self.tracer = tracer
        self.ops: list[Op] = []
        self.rounds: list[Round] = []
        self.round_no = 0
        self.stats = SparkStats(spark) if tracer.enabled else None
        self._untimed = 0.0

    @contextmanager
    def untimed(self):
        """Leave the time spent inside this block out of the running op's
        latency (the benchmark's own measurement work inside an op)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._untimed += time.perf_counter() - t

    def run(self, kind: str, fn, *args, **kwargs):
        """Run ``fn`` as one op. Returns (op, result); result is None when it raised."""
        op_id = f"{kind}#{len(self.ops)}"
        stats = self.stats if self.tracer.enabled else None
        sql_from = stats.begin(op_id) if stats is not None else 0
        result, ok = None, True
        self._untimed = 0.0
        t = time.perf_counter()
        try:
            with self.tracer.span(kind, op_id):
                result = fn(*args, **kwargs)
        except Exception:
            traceback.print_exc()
            ok = False
        op = Op(kind, time.perf_counter() - t - self._untimed, ok, self.round_no)
        if stats is not None:
            op.stats = stats.end(op_id, sql_from)
        self.ops.append(op)
        return op, result

    def measured(self, traced: bool | None = None) -> list[Round]:
        """The rounds that count: not warm-up, and traced or not as asked."""
        return [r for r in self.rounds if not r.warm and (traced is None or r.traced == traced)]

    def latencies(self, kinds: tuple[str, ...] | None = None) -> list[float]:
        """Latencies of the ops of the measured rounds (of ``kinds``)."""
        rounds = {r.number for r in self.measured()}
        return [o.seconds for o in self.ops if o.round in rounds and (kinds is None or o.kind in kinds)]

    def round_estimate(self, traced: bool | None = None) -> float:
        """The wall time of one round of the op mix: for each kind of op,
        the median latency of that kind over the measured rounds times the
        times it runs in a round, summed over the kinds. A slow op in one
        round moves it far less than it moves that round's wall time."""
        rounds = {r.number for r in self.measured(traced)}
        by_kind: dict[str, list[float]] = {}
        for o in self.ops:
            if o.round in rounds:
                by_kind.setdefault(o.kind, []).append(o.seconds)
        return sum(median(xs) * len(xs) / len(rounds) for xs in by_kind.values()) if rounds else 0.0

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


#: measured rounds a run makes at the least, however long they take; a
#: traced run makes two at the least, one traced and one not
MIN_ROUNDS = 1
#: unmeasured rounds before the measured ones. The first rounds of a
#: process run slower (class loading, JIT, Python worker start, caches),
#: by a share that varies from run to run; these pay for it.
WARM_ROUNDS = 1


def _set_tracing(tracer: Tracer, on: bool) -> None:
    from timedb_spark import profiling

    tracer.enabled = on
    (profiling.enable if on else profiling.disable)()


def _one(rec: Recorder, one_round, on: bool, warm: bool) -> None:
    _set_tracing(rec.tracer, on)
    rec.round_no += 1
    c, t = tree_cpu_s(), time.perf_counter()
    one_round()
    rec.rounds.append(Round(rec.round_no, time.perf_counter() - t, tree_cpu_s() - c, on, warm))


def warm_up(rec: Recorder, one_round) -> None:
    """Run :data:`WARM_ROUNDS` untraced warm-up rounds of the op mix."""
    for _ in range(WARM_ROUNDS):
        _one(rec, one_round, False, True)
    _set_tracing(rec.tracer, False)


def closed_loop(rec: Recorder, seconds: float, one_round, traced: bool) -> None:
    """Run whole rounds of the workload's fixed op mix until ``seconds``
    have passed (at least :data:`MIN_ROUNDS`), recording each round's wall
    time and CPU time. On a traced run (``traced``) the rounds alternate
    traced and untraced, starting traced. Ops run after the loop (the
    output checks) belong to no round."""
    least = 2 if traced else MIN_ROUNDS
    t_end = time.perf_counter() + seconds
    while len(rec.measured()) < least or time.perf_counter() < t_end:
        _one(rec, one_round, traced and len(rec.measured()) % 2 == 0, False)
    _set_tracing(rec.tracer, False)
    rec.round_no = 0
