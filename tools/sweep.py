"""Full-surface timing sweep: run EVERY registered query once at a scale
factor and write per-query wall times as JSON — the local regression
baseline the bench driver can diff round over round (VERDICT r1 item 8).

Usage: python tools/sweep.py [sf_dir] [out.json] [--diff baseline.json]

Timing is end-to-end per query (plan + execute + collect) on the shared
local session, one pass in registration order, warm JVM but cold per-query
results (no persisted frames carried across queries beyond what the
operators themselves stage).

``--diff`` compares SHARE-OF-TOTAL ratios, not absolute seconds: this host
swings ~2× day-over-day on identical code (SURVEY §7), so a per-query time
is only meaningful relative to the rest of the SAME run. A query whose
share of the sweep grew >1.5× vs its baseline share is a regression (exit
nonzero); absolute times below the noise floor are ignored.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402

REGRESSION_RATIO = 1.5
NOISE_FLOOR_SEC = 1.0  # sub-second queries regress on JVM hiccups, not code


def diff_vs_baseline(result: dict, baseline_path: str) -> dict:
    """Share-of-total comparison of a fresh sweep against a committed
    baseline. Returns {query: {sec, base_sec, share_ratio}} for queries
    whose share grew past REGRESSION_RATIO (and are above the noise
    floor), plus queries present in only one of the two runs."""
    with open(baseline_path) as f:
        base = json.load(f)
    bq, nq = base["queries"], result["queries"]
    common = sorted(set(bq) & set(nq))
    btot = sum(bq[q] for q in common) or 1.0
    ntot = sum(nq[q] for q in common) or 1.0
    regressions: dict[str, dict] = {}
    for q in common:
        share_old = bq[q] / btot
        share_new = nq[q] / ntot
        ratio = share_new / share_old if share_old > 0 else float("inf")
        if ratio > REGRESSION_RATIO and nq[q] >= NOISE_FLOOR_SEC:
            regressions[q] = {
                "sec": nq[q],
                "base_sec": bq[q],
                "share_ratio": round(ratio, 2),
            }
    return {
        "baseline": baseline_path,
        "n_compared": len(common),
        "total_ratio": round(ntot / btot, 2),
        "regressions": regressions,
        "only_in_new": sorted(set(nq) - set(bq)),
        "only_in_baseline": sorted(set(bq) - set(nq)),
    }


def run(sf_dir: str, out_path: str | None) -> dict:
    spark = get_spark("sweep")
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Warm-up pass OUTSIDE the timings: the first queries of a sweep
    # otherwise absorb JVM/codegen/parquet-footer warm-up, so any
    # registration-order change (gate-window rotation) masquerades as a
    # per-query regression in the diff (seen in round 3: the rotated-to-
    # front queries all "regressed" 1.7-5.6x share-wise, none reproduced
    # after a warm-up).
    try:
        entrymod.queries()["tpch_q6"](spark, sf_dir).collect()
    except Exception:  # noqa: BLE001 — warm-up is best-effort
        pass
    t_all = time.time()
    for name, fn in entrymod.queries().items():
        t0 = time.time()
        try:
            n = len(fn(spark, sf_dir).collect())
            times[name] = round(time.time() - t0, 3)
            print(f"  {name:32s} {times[name]:7.2f}s  rows={n}", flush=True)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"  {name:32s} ERROR {errors[name]}", flush=True)
    result = {
        "sf_dir": sf_dir,
        "total_sec": round(time.time() - t_all, 1),
        "n_queries": len(times),
        "worst": max(times, key=times.get) if times else None,
        "queries": times,
        "errors": errors,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(f"wrote {out_path}")
    return result


if __name__ == "__main__":
    args = sys.argv[1:]
    baseline = None
    if "--diff" in args:
        i = args.index("--diff")
        baseline = args[i + 1]
        del args[i : i + 2]
    sf = args[0] if args else "/root/testdata/sf0.1"
    out = args[1] if len(args) > 1 else None
    r = run(sf, out)
    failed = bool(r["errors"])
    if baseline:
        d = diff_vs_baseline(r, baseline)
        r["diff"] = d
        if out:  # re-write with the diff folded in
            with open(out, "w") as f:
                json.dump(r, f, indent=1, sort_keys=True)
        print(json.dumps({"diff_regressions": d["regressions"], "total_ratio": d["total_ratio"]}))
        failed = failed or bool(d["regressions"])
    print(json.dumps({"total_sec": r["total_sec"], "worst": r["worst"], "n": r["n_queries"], "n_err": len(r["errors"])}))
    sys.exit(1 if failed else 0)
