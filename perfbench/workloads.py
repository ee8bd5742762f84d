"""The two benchmark workloads.

Each is one client thread in a closed loop over a fixed mix of ops,
repeated in whole rounds until the run's time is up (at least one round).
A workload drives the library only through its public functions:
``TimeDB`` (client), ``Store`` through ``TimeDB``, ``io.tables``, the
registry in ``__spark_entry__.queries()`` and the ``streaming`` builders.

Per workload:

- ``setup()`` makes the seeded inputs (and, for ``store``, builds the
  store); it is timed into ``setup_s``.
- ``round()`` runs one round of ops through the recorder.
- ``check()`` compares outputs with an independent answer (pandas or
  DuckDB over the generated inputs) outside the timed region; a mismatch
  marks the op failed.
- ``report()`` adds the workload's named end-to-end figures and, on a
  traced run, its per-layer metrics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import time as dt_time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from harness import Recorder, Tracer, median, plan_ms, tail


@dataclass
class Ctx:
    spark: object
    seed: int
    work_dir: str
    tracer: Tracer
    rec: Recorder
    tiny: bool = False
    corrupt: bool = False
    # a traced run (its rounds alternate traced and untraced)
    traced: bool = False
    # (name, value, unit, note) lines the run prints before its result
    figures: list = field(default_factory=list)
    # per-layer metrics of a traced run, by name
    layer: dict = field(default_factory=dict)

    def figure(self, name: str, value, unit: str, note: str = "") -> None:
        self.figures.append((name, value, unit, note))

    def latency_figures(self, prefix: str, xs: list[float]) -> None:
        self.figure(f"{prefix}_p50_s", round(median(xs), 4), "s", f"n={len(xs)}")
        pct, val = tail(xs)
        if pct is None:
            self.figure(f"{prefix}_tail_s", None, "s", f"n={len(xs)}; a tail needs >= 20 samples")
        else:
            self.figure(f"{prefix}_tail_s", round(val, 4), "s", f"p{pct:.0f}, n={len(xs)}")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def _partition_files(values_path: str) -> list[int]:
    counts = []
    for root, _dirs, files in os.walk(values_path):
        n = sum(f.endswith(".parquet") for f in files)
        if "vt_month=" in root and n:
            counts.append(n)
    return counts


def _naive(ts: pd.Timestamp):
    return ts.tz_convert("UTC").tz_localize(None).to_pydatetime()


# ---------------------------------------------------------------------------
# store: forecast vintages written and read back on one live store
# ---------------------------------------------------------------------------


# Sizes of the store workload: series per vintage, and months of daily
# history the store is built from.
STORE_SERIES = 100
STORE_MONTHS = 1
READ_KINDS = ("read_latest", "read_overlapping", "read_updates", "read_relative", "run_series", "count")
FRAME_READS = ("read_latest", "read_overlapping", "read_updates", "read_relative")
WRITE_KINDS = ("write_compact", "write_skip")
# One round: a skip_unchanged batch, and a plain batch followed inline by
# a compaction, with the six read kinds between them. The live month then
# holds three files when the compaction runs, so every compaction merges.
STORE_ROUND = ("write_skip", "read_latest", "read_overlapping", "read_updates",
               "write_compact", "read_relative", "run_series", "count")


class LiveStore:
    """A directory store holding months of history (written in one batch,
    one sorted file per month) that the loop keeps appending forecast
    vintages to — issued 6 h apart, 48 h ahead, every second batch with
    ``skip_unchanged`` re-sending the overlapping hours 90% unchanged, the
    others followed inline by a compaction — while reading it back:
    Zipf-skewed series, 1-7 day windows, 70% of them in the live month the
    appends fragment."""

    name = "store"
    ISSUE_H = 6
    HORIZON_H = 48
    CHANGED_SHARE = 0.1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        n_series, months = (8, 2) if ctx.tiny else (STORE_SERIES, STORE_MONTHS)
        self.plan = gen.read_store_plan(ctx.seed, n_series=n_series, months=months)
        self.series = np.arange(n_series)
        self.batch_no = 0
        self.results: list[tuple[int, str, dict, int, object]] = []  # (op index, kind, params, batches seen, out)
        self.read_stats: list[dict] = []
        self.phases: list[tuple[str, dict]] = []
        self.compact_ms: list[float] = []
        self.user_bytes = self.rewritten_bytes = 0
        self.skip_sent = self.skip_skipped = 0

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        from timedb_spark import TimeDB

        ctx, p = self.ctx, self.plan
        self.db = TimeDB(ctx.spark, os.path.join(ctx.work_dir, "store"))
        self.values_path = os.path.join(ctx.work_dir, "store", "series_values")
        self.db.create()
        # The history goes in as one Spark frame over a parquet file; a pandas
        # frame this size would spend most of set-up re-serialising itself for
        # each of write()'s actions. µs timestamps: the session reads parquet
        # nanosecond timestamps as longs.
        hist_path = os.path.join(ctx.work_dir, "history.parquet")
        pq.write_table(pa.Table.from_pandas(p.history, preserve_index=False), hist_path, coerce_timestamps="us")
        self.db.write(ctx.spark.read.parquet(hist_path))
        # Generated truth for the checks: every stored row, naive UTC, with
        # the batch that wrote it (-1: the history).
        truth = p.history.assign(batch=-1)
        for c in ("valid_time", "knowledge_time"):
            truth[c] = truth[c].dt.tz_convert("UTC").dt.tz_localize(None)
        self.truth = truth
        self.latest = truth.sort_values("knowledge_time").drop_duplicates(["series_id", "valid_time"], keep="last")[
            ["series_id", "valid_time", "value"]].reset_index(drop=True)

    # -- writes ---------------------------------------------------------------

    def _write(self, kind: str) -> None:
        ctx = self.ctx
        skip, compact = kind == "write_skip", kind == "write_compact"
        issue = self.plan.recent_start + pd.Timedelta(hours=self.ISSUE_H * self.batch_no)
        df = gen.forecast_batch(self.rng, self.series, issue, self.HORIZON_H)
        naive_vt = df["valid_time"].dt.tz_convert("UTC").dt.tz_localize(None)
        prev = pd.DataFrame({"series_id": df["series_id"], "valid_time": naive_vt}).merge(
            self.latest, on=["series_id", "valid_time"], how="left")["value"].to_numpy()
        if skip:  # re-send most already-stored hours unchanged
            keep = ~np.isnan(prev) & (self.rng.random(len(df)) >= self.CHANGED_SHARE)
            df.loc[keep, "value"] = prev[keep]
        written = (df["value"].to_numpy() != prev) if skip else np.ones(len(df), dtype=bool)
        traced = ctx.tracer.enabled
        # Store bytes are walked only on traced rounds, and outside the
        # op's latency: before the op, between the write and its compaction,
        # and after the op.
        before = _dir_bytes(self.values_path) if traced else 0
        done: list[str] = []

        def op():
            with ctx.tracer.span("client.write"):
                res = self.db.write(df, knowledge_time=issue.to_pydatetime(), skip_unchanged=skip)
            if compact:
                if traced:
                    with ctx.rec.untimed():
                        self.user_bytes += _dir_bytes(self.values_path) - before
                with ctx.tracer.span("store.compact"):
                    done.extend(self.db.compact(max_files_per_partition=2))
            return res

        from timedb_spark import profiling

        profiling.reset()
        o, res = ctx.rec.run(kind, op)
        if traced:
            self.phases.append((kind, profiling.collect()))
            if compact:
                self.compact_ms.append(ctx.tracer.durations_ms("store.compact")[-1])
                self.rewritten_bytes += sum(_dir_bytes(os.path.join(self.values_path, p)) for p in done)
            else:
                self.user_bytes += _dir_bytes(self.values_path) - before
        if res is not None:
            o.ok = res.written == int(written.sum()) and res.skipped == len(df) - int(written.sum())
        self.batch_no += 1
        if res is None:
            return
        if skip:
            self.skip_sent += len(df)
            self.skip_skipped += res.skipped
        rows = pd.DataFrame({"series_id": df["series_id"], "valid_time": naive_vt, "value": df["value"]})
        self.truth = pd.concat(
            [self.truth, rows[written].assign(knowledge_time=_naive(issue), batch=self.batch_no - 1)],
            ignore_index=True)
        self.latest = (pd.concat([self.latest, rows], ignore_index=True)
                       .drop_duplicates(["series_id", "valid_time"], keep="last").reset_index(drop=True))

    # -- reads ----------------------------------------------------------------

    def _params(self) -> dict:
        p, rng = self.plan, self.rng
        days = int(rng.integers(1, 8))
        if rng.random() < 0.7:
            lo = p.recent_start
            hi = p.recent_start + pd.Timedelta(hours=self.ISSUE_H * self.batch_no + self.HORIZON_H)
        else:
            lo, hi = p.start, p.recent_start
        span = max(1, (hi - lo).days)
        days = min(days, span)
        start = lo + pd.Timedelta(days=int(rng.integers(0, max(1, span - days + 1))))
        n = int(rng.integers(1, 5))
        sids = sorted({int((rng.zipf(1.5) - 1) % p.n_series) for _ in range(n)})
        return {"series_ids": sids, "start_valid": start.to_pydatetime(),
                "end_valid": (start + pd.Timedelta(days=days)).to_pydatetime()}

    def _read(self, kind: str) -> None:
        ctx, db, prm = self.ctx, self.db, self._params()
        built = {}

        def frame_op():
            with ctx.tracer.span("client.read"):
                t = time.perf_counter()
                if kind == "read_relative":
                    df = db.read_relative(days_ahead=1, time_of_day=dt_time(12), **prm)
                else:
                    df = db.read(include_knowledge_time=kind == "read_overlapping",
                                 include_updates=kind == "read_updates", **prm)
                built["build_ms"] = (time.perf_counter() - t) * 1000.0
            with ctx.tracer.span("spark.collect"):
                t = time.perf_counter()
                rows = df.collect()
                built["action_ms"] = (time.perf_counter() - t) * 1000.0
            built["df"] = df
            return rows

        if kind == "run_series":
            fn, args = db.read_run_series, {"series_id": prm["series_ids"][0]}
        elif kind == "count":
            fn, args = db.count, {"start_valid": prm["start_valid"], "end_valid": prm["end_valid"]}
        else:
            fn, args = frame_op, {}
        o, out = ctx.rec.run(kind, fn, **args)
        self.results.append((len(ctx.rec.ops) - 1, kind, prm, self.batch_no, out))
        if ctx.tracer.enabled and o.ok and kind in FRAME_READS:
            p_ms = plan_ms(built["df"])
            self.read_stats.append(dict(o.stats, build_ms=built["build_ms"], plan_ms=p_ms,
                                        exec_ms=built["action_ms"] - p_ms, rows=len(out)))

    def round(self) -> None:
        for kind in STORE_ROUND:
            if kind in WRITE_KINDS:
                self._write(kind)
            else:
                self._read(kind)

    # -- checks -------------------------------------------------------------

    def _expected(self, con, kind: str, prm: dict, batches: int):
        seen = f"batch < {batches}"
        window = (f"valid_time >= TIMESTAMP '{prm['start_valid']:%Y-%m-%d %H:%M:%S}' "
                  f"AND valid_time < TIMESTAMP '{prm['end_valid']:%Y-%m-%d %H:%M:%S}'")
        where = f"{seen} AND series_id IN ({', '.join(str(s) for s in prm['series_ids'])}) AND {window}"
        # knowledge times are distinct per (series, valid time) in the generated vintages
        latest = ("SELECT series_id, valid_time, arg_max(value, knowledge_time) AS value "
                  "FROM {src} GROUP BY series_id, valid_time")
        if kind == "count":
            return con.sql(f"SELECT count(*) FROM truth WHERE {seen} AND {window}").fetchone()[0]
        if kind == "run_series":
            return con.sql(f"SELECT count(DISTINCT batch) FROM truth WHERE {seen} "
                           f"AND series_id = {prm['series_ids'][0]}").fetchone()[0]
        if kind == "read_overlapping":
            return checks.duck_canon(con, f"SELECT series_id, knowledge_time, valid_time, value FROM truth WHERE {where}")
        if kind == "read_relative":
            src = (f"(SELECT * FROM truth WHERE {where} "
                   "AND knowledge_time <= date_trunc('day', valid_time) - INTERVAL 12 HOUR)")
            return checks.duck_canon(con, latest.format(src=src))
        return checks.duck_canon(con, latest.format(src=f"(SELECT * FROM truth WHERE {where})"))

    def check(self) -> None:
        import duckdb

        o, n = self.ctx.rec.run("count_all", self.db.count)
        o.ok = o.ok and n == len(self.truth)
        con = duckdb.connect()
        con.register("truth", self.truth)
        first = True
        for idx, kind, prm, batches, out in self.results:
            op = self.ctx.rec.ops[idx]
            if not op.ok:
                continue
            want = self._expected(con, kind, prm, batches)
            if kind == "run_series":
                ok = len(out) == want
            elif kind == "count":
                ok = out == want
            else:
                rows = checks.corrupt_rows(out) if self.ctx.corrupt and first else out
                first = False
                cols = ["series_id", "valid_time", "value"]
                if kind == "read_overlapping":
                    cols = ["series_id", "knowledge_time", "valid_time", "value"]
                ok = checks.spark_canon(rows, cols) == want
            op.ok = ok
        con.close()

    # -- report ---------------------------------------------------------------

    def report(self) -> None:
        ctx = self.ctx
        writes = ctx.rec.latencies(WRITE_KINDS)
        ctx.latency_figures("write", writes)
        sent = self.HORIZON_H * len(self.series) * len(writes)
        ctx.figure("ingest_rows_per_s", round(sent / sum(writes), 1) if writes else None, "rows/s", "rows sent")
        total_bytes = _dir_bytes(self.values_path)
        ctx.figure("store_bytes_per_row", round(total_bytes / len(self.truth), 2), "B/row")
        ctx.latency_figures("read", ctx.rec.latencies(READ_KINDS))
        for kind in ("read_latest", "read_overlapping", "read_relative"):
            xs = ctx.rec.latencies((kind,))
            ctx.figure(f"{kind}_p50_s", round(median(xs), 4), "s", f"n={len(xs)}")
        if not ctx.traced:
            return
        L = ctx.layer

        def phase(kinds, key):
            return median([p.get(key, 0.0) * 1000.0 for k, p in self.phases if k in kinds])

        L["client.write.normalize_ms"] = phase(WRITE_KINDS, "write.normalize")
        L["client.write.skip_unchanged_ms"] = phase(("write_skip",), "write.skip_unchanged")
        L["client.write.run_series_insert_ms"] = phase(WRITE_KINDS, "write.run_series_insert")
        L["client.write.series_values_insert_ms"] = phase(WRITE_KINDS, "write.series_values_insert")
        L["client.skip_ratio"] = self.skip_skipped / self.skip_sent if self.skip_sent else 0.0
        L["store.compact_ms"] = median(self.compact_ms)
        L["store.bytes_rewritten_per_user_byte"] = self.rewritten_bytes / self.user_bytes if self.user_bytes else 0.0
        files = _partition_files(self.values_path)
        L["store.files_total"] = float(sum(files))
        L["store.files_per_partition_max"] = float(max(files, default=0))
        L["store.count_ms"] = median([x * 1000.0 for x in ctx.rec.latencies(("count",))])
        L["store.run_series_ms"] = median([x * 1000.0 for x in ctx.rec.latencies(("run_series",))])
        L["store.bytes_per_row"] = total_bytes / len(self.truth)
        rs = self.read_stats
        L["client.read_build_ms"] = median([r["build_ms"] for r in rs])
        L["read.plan_ms"] = median([r["plan_ms"] for r in rs])
        L["read.exec_ms"] = median([r["exec_ms"] for r in rs])
        for key in ("stages", "tasks", "executor_run_ms", "executor_cpu_ms", "files_read", "shuffle_bytes"):
            L[f"read.{key}"] = median([float(r[key]) for r in rs])
        returned = sum(r["rows"] for r in rs)
        L["read.rows_scanned_per_row_returned"] = sum(r["rows_scanned"] for r in rs) / returned if returned else 0.0


# ---------------------------------------------------------------------------
# registry: registry queries and stateful stream drains over generated testdata
# ---------------------------------------------------------------------------


# The bitemporal collapse over the events and a 3-table join over ~600k
# line items. The other bitemporal reads run through TimeDB in the store
# workload.
ANALYTICS_MIX = ("bt_read_latest", "tpch_q3")
# The latest-state drain on the v2 state API (RocksDB, one state row per
# series), the streaming path ROADMAP.md reworks. The v1 drain
# (applyInPandasWithState) is left out: a cold drain costs about 11 s,
# which the warm-up would pay again in every run.
STREAM_OPS = ("latest_v2",)
# A fixed order: with a seed-shuffled one, each op's first-use cost moved
# to whichever op ran first, and round times spread with the seed.
REGISTRY_ROUND = ("bt_read_latest", "tpch_q3", "latest_v2")
# Registry testdata sizes: the TPC-H tables of the repo's sf0.1 testdata;
# a fifth of its events, over 100 users and 10 days.
REGISTRY_SIZES = dict(n_users=100, n_events=20_000, days=10, n_orders=150_000, n_customers=15_000,
                      n_parts=20_000, n_suppliers=1_000, n_docs=5_000)
REGISTRY_TINY = dict(n_users=10, n_events=300, days=3, n_orders=300, n_customers=40, n_parts=60,
                     n_suppliers=10, n_docs=30)
LOAD_TABLES = ("events", "lineitem", "orders", "customer", "supplier", "nation", "region", "documents")
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
# A run must end within 180 s; a drain that has not ended by then is a failure.
DRAIN_TIMEOUT_S = 60


def _testdata(ctx: Ctx) -> str:
    d = os.path.join(ctx.work_dir, "testdata")
    gen.write_testdata(d, ctx.seed, **(REGISTRY_TINY if ctx.tiny else REGISTRY_SIZES))
    return d


def _duck(td: str):
    import duckdb

    con = duckdb.connect()
    for t in LOAD_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{td}/{t}.parquet')")
    return con


class Registry:
    """One round = every query of :data:`ANALYTICS_MIX` (built and written
    to the ``noop`` sink) and the :data:`STREAM_OPS` drain, in the order of
    :data:`REGISTRY_ROUND`. The drain reads the ``bitemporal_frame`` of the
    generated events, staged as two parquet files and drained with
    ``trigger(availableNow=True)`` one file per micro-batch, so state
    crosses a batch boundary.

    A query's rows are not collected inside the timed op: over inputs this
    size the driver's row deserialisation would outweigh the query. The
    check collects each query once after the loop; the inputs do not change
    between rounds, so a wrong answer there fails every op of the query."""

    name = "registry"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.results: list[tuple[int, str, list]] = []  # (op index, drain, rows)
        self.per_query: dict[str, list[dict]] = {q: [] for q in ANALYTICS_MIX}
        self.progress: dict[str, list[list]] = {op: [] for op in STREAM_OPS}

    def setup(self) -> None:
        import __spark_entry__ as entry

        from timedb_spark.io.tables import bitemporal_frame
        from timedb_spark.streaming import stage_ordered_landing

        ctx = self.ctx
        self.td = _testdata(ctx)
        self.queries = entry.queries()
        self.sv_dir = os.path.join(ctx.work_dir, "stream", "sv")
        sv = bitemporal_frame(ctx.spark, self.td).select(
            "series_id", "valid_time", "knowledge_time", "change_time", "value")
        # Range-partitioned on knowledge time with mtimes stamped in range
        # order, so every run drains the same rows in the same micro-batch.
        stage_ordered_landing(sv, self.sv_dir, 2, "knowledge_time")
        self.sv_schema = ctx.spark.read.parquet(self.sv_dir).schema

    def _query(self, q: str) -> float:
        ctx = self.ctx
        with ctx.tracer.span("operators." + q):
            t = time.perf_counter()
            df = self.queries[q](ctx.spark, self.td)
            build = time.perf_counter() - t
        with ctx.tracer.span("spark.noop_write"):
            df.write.format("noop").mode("overwrite").save()
        return build

    def _drain(self, op: str):
        from timedb_spark.streaming import run_available_now_progress
        from timedb_spark.streaming.state_v2 import stream_latest_state_v2

        spark = self.ctx.spark
        src = spark.readStream.schema(self.sv_schema).option("maxFilesPerTrigger", 1).parquet(self.sv_dir)
        with self.ctx.tracer.span("streaming." + op):
            # the v2 state API requires the RocksDB state store
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
            try:
                out, progress = run_available_now_progress(stream_latest_state_v2(src), "update", DRAIN_TIMEOUT_S)
            finally:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        # A drain still running after the timeout is stopped; its partial
        # output then fails the check.
        for q in spark.streams.active:
            q.stop()
        return out, progress

    def round(self) -> None:
        rec = self.ctx.rec
        for name in REGISTRY_ROUND:
            if name in STREAM_OPS:
                o, out = rec.run(name, self._drain, name)
                if out and self.ctx.tracer.enabled:
                    self.progress[name].append(out[1])
                # the drained rows, collected outside the timed op
                self.results.append((len(rec.ops) - 1, name, out[0].collect() if out else []))
            else:
                o, build = rec.run(name, self._query, name)
                if self.ctx.tracer.enabled and build is not None:
                    self.per_query[name].append(dict(o.stats, build_ms=build * 1000.0,
                                                     exec_ms=(o.seconds - build) * 1000.0))

    def check(self) -> None:
        import __spark_entry__ as entry

        from timedb_spark.io.tables import BITEMPORAL_ORACLE_SQL

        oracles = entry.oracle_sql()
        con = _duck(self.td)
        want = {q: checks.duck_canon(con, oracles[q]) for q in ANALYTICS_MIX}
        want["latest_v2"] = checks.duck_canon(con, f"""
            WITH sv AS ({BITEMPORAL_ORACLE_SQL})
            SELECT series_id, valid_time, value FROM (
                SELECT *, row_number() OVER (PARTITION BY series_id
                                             ORDER BY knowledge_time DESC, change_time DESC) AS rn
                FROM sv) t
            WHERE rn = 1""")
        con.close()
        want = {k: checks.digest(v) for k, v in want.items()}
        ops = self.ctx.rec.ops
        for i, q in enumerate(ANALYTICS_MIX):
            rows = self.queries[q](self.ctx.spark, self.td).collect()
            if self.ctx.corrupt and i == 0:
                rows = checks.corrupt_rows(rows)
            if checks.digest(checks.spark_canon(rows)) != want[q]:
                for op in ops:
                    if op.kind == q:
                        op.ok = False
        for idx, name, rows in self.results:
            ops[idx].ok = ops[idx].ok and checks.digest(self._final(rows)) == want[name]

    @staticmethod
    def _final(rows) -> list[str]:
        """A drain's final state: update mode re-emits a series when its
        winner improves, so each series' final row is its emission with the
        largest (knowledge_time, change_time)."""
        best: dict = {}
        for r in rows:
            k = r["series_id"]
            if k not in best or (r["knowledge_time"], r["change_time"]) > (best[k]["knowledge_time"], best[k]["change_time"]):
                best[k] = r
        return checks.canon(["series_id", "valid_time", "value"],
                            [(r["series_id"], r["valid_time"], r["value"]) for r in best.values()])

    def report(self) -> None:
        ctx = self.ctx
        for label, names in (("analytics_pass_s", ANALYTICS_MIX), ("stream_drain_s", STREAM_OPS)):
            sums: dict[int, float] = {}
            rounds = {r.number for r in ctx.rec.measured()}
            for o in ctx.rec.ops:
                if o.kind in names and o.round in rounds:
                    sums[o.round] = sums.get(o.round, 0.0) + o.seconds
            ctx.figure(label, round(median(list(sums.values())), 4), "s", f"n={len(sums)} rounds")
        if not ctx.traced:
            return
        L = ctx.layer
        for q, recs in self.per_query.items():
            for key in ("build_ms", "exec_ms", "executor_run_ms", "shuffle_bytes"):
                L[f"analytics.{q}.{key}"] = median([float(r[key]) for r in recs])
        for key in ("build_ms", "executor_run_ms", "shuffle_bytes", "spill_bytes"):
            L[f"analytics.{key}"] = sum(median([float(r[key]) for r in recs]) for recs in self.per_query.values())
        for op in STREAM_OPS:
            runs = self.progress[op]
            last = [p[-1] for p in runs if p]
            L[f"stream.{op}.drain_ms"] = median([x * 1000.0 for x in ctx.rec.latencies((op,))])
            L[f"stream.{op}.batches"] = median([float(len(p)) for p in runs])
            L[f"stream.{op}.batch_p50_ms"] = median(
                [float(b.durationMs.get("triggerExecution", 0)) for p in runs for b in p])
            L[f"stream.{op}.state_rows"] = median([float(sum(s.numRowsTotal for s in b.stateOperators)) for b in last])
            L[f"stream.{op}.state_mem_bytes"] = median(
                [float(sum(s.memoryUsedBytes for s in b.stateOperators)) for b in last])
        # Table resolution, timed from here after the loop: three per table.
        from timedb_spark.io.tables import load_table

        for t in LOAD_TABLES:
            xs = []
            for _ in range(3):
                with ctx.tracer.span("io.load_table"):
                    s = time.perf_counter()
                    load_table(ctx.spark, self.td, t)
                    xs.append((time.perf_counter() - s) * 1000.0)
            L[f"io.load_table.{t}_ms"] = median(xs)


WORKLOADS = {w.name: w for w in (LiveStore, Registry)}
