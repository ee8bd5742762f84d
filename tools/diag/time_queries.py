"""Best-of-N noop timing for named registered queries in ONE fresh session.

Usage: python tools/diag/time_queries.py [--passes 3] [--sf SF_DIR] \
           [--out out.json] query [query ...]

Per guide §1.4 the timed action is ``df.write.format("noop")`` — the full
plan executes with no sink cost. Per-query minimum over the passes is the
recorded number (host noise only ever adds time). The DataFrame is rebuilt
fresh each pass, so operator-internal lazy checkpoints are re-materialized
per pass — nothing is timed warm-from-cache across passes except what the
operators themselves persist by design.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark("timedb_spark-timer")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    result: dict = {"sf_dir": args.sf, "passes": args.passes, "queries": {}, "all_passes": {}}
    for name in args.queries:
        spark.sparkContext.setJobDescription(f"time:{name}")
        runs = []
        for _ in range(args.passes):
            t0 = time.perf_counter()
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        result["queries"][name] = min(runs)
        result["all_passes"][name] = runs
        print(f"{name}: min={min(runs)} runs={runs}", flush=True)

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
