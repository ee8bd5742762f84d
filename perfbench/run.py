"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. It starts one Spark
session on ``local[<cpus>]``, builds the workload's inputs from ``--seed``
(three times, timing each), runs one warm-up round of the workload's op
mix, measures whole rounds of it for ``--seconds`` seconds with one client
in a closed loop, checks every op's output, and prints:

- one ``name = value unit (note)`` line per named end-to-end figure of the
  workload (median and tail latencies with their sample counts,
  ``error_rate``, ...);
- as the last line, one JSON object with the keys ``correct``,
  ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
  metrics are the ``end_to_end`` metrics of ``BENCHMARK.json``; with
  ``--trace 1`` they are its ``per_layer`` metrics, and the run's spans
  are written to ``.perfbench/traces/``.

``--tiny`` shrinks every input (for the smoke test), ``--corrupt`` drops a
row from one result before the output checks, to prove they catch it.
Exits 2 without printing a result when the library is not in the
checkout.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

#: workload set-ups per run; ``setup_s`` counts the session start, the
#: median set-up and the warm-up rounds
SETUPS = 3


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["store", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt one result before the checks")
    return ap.parse_args(argv)


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it every
    Python worker it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = harness.checkout_root()
    if not os.path.isfile(os.path.join(root, "timedb_spark", "__init__.py")):
        print(f"error: the timedb_spark package is not in {root}; run from a full checkout", file=sys.stderr)
        return 2
    spec = load_spec(root)
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.prepare_process(work)

    from timedb_spark.session import get_spark

    import workloads

    tracer = harness.Tracer(enabled=bool(args.trace))
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=harness.session_conf(work))
    get_spark_ms = (time.perf_counter() - t) * 1000.0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        with tracer.span("session.warmup"):
            spark.range(0, 100_000, numPartitions=4).selectExpr("sum(id)").collect()
        warmup_ms = (time.perf_counter() - t) * 1000.0

        session_s = time.perf_counter() - _T_START
        workload = workloads.WORKLOADS[args.workload]
        rec = harness.Recorder(spark, tracer)
        # Set the workload up SETUPS times, each in a directory of its own,
        # and time each; the loop runs on the last one. The first set-up of
        # a process pays class loading and JIT; the median leaves it out.
        setups = []
        for k in range(SETUPS):
            ctx = workloads.Ctx(spark, args.seed, os.path.join(work, f"setup{k}"), tracer, rec,
                                tiny=args.tiny, corrupt=args.corrupt, traced=bool(args.trace))
            wl = workload(ctx)
            t = time.perf_counter()
            with tracer.span("setup"):
                wl.setup()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("workload.warmup"):
            harness.warm_up(rec, wl.round)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + harness.median(setups) + warmup_s

        t_loop, steal = time.perf_counter(), harness.host_steal_s()
        harness.closed_loop(rec, args.seconds, wl.round, traced=bool(args.trace))
        loop_s = time.perf_counter() - t_loop
        steal_share = (harness.host_steal_s() - steal) / (loop_s * (os.cpu_count() or 1))
        peak = harness.peak_rss_mb(spark)
        wl.check()
        wl.report()
    except BaseException:
        stop(spark)
        raise

    attempted, failed = rec.attempted, rec.failed
    e2e = {"setup_s": setup_s, "round_s": rec.round_estimate()}
    measured = rec.measured()
    common = [("setup_s", round(setup_s, 4), "s",
               f"session {session_s:.2f} s + median of set-ups "
               f"{', '.join(f'{x:.2f}' for x in setups)} s + warm-up round {warmup_s:.2f} s"),
              ("error_rate", round(failed / attempted, 4), "ratio", f"{failed}/{attempted} ops"),
              ("round_s", round(e2e["round_s"], 4), "s",
               f"sum of per-op medians over n={len(measured)} rounds; "
               f"round walls {', '.join(f'{r.seconds:.2f}' for r in measured)} s"),
              ("round_cpu_s", round(harness.median([r.cpu_s for r in measured]), 4), "s", f"n={len(measured)}"),
              ("steal_share", round(steal_share, 4), "ratio", "CPU time the host stole during the rounds"),
              ("peak_rss_mb", round(peak, 1), "MB", "driver Python + JVM")]
    for name, value, unit, note in common + ctx.figures:
        shown = "n/a" if value is None else value
        print(f"{args.workload} {name} = {shown} {unit}" + (f" ({note})" if note else ""))

    if args.trace:
        L = ctx.layer
        L["session.get_spark_ms"] = get_spark_ms
        L["session.warmup_ms"] = warmup_ms
        # traced round / untraced round of the same run, each as round_s
        L["trace.overhead_ratio"] = rec.round_estimate(traced=True) / rec.round_estimate(traced=False)
        trace_dir = os.path.join(root, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
        metrics = {m["name"]: {"value": float(L.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}

    stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
