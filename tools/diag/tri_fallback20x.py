"""r13 task #5 (VERDICT r12): probe the 100 TB wedge plan deliberately.

graph_triangles with ``orient="degree"`` and the edge-list broadcast
DISABLED at 20x stress data — at real scale the broadcast path will not
exist, so the forced-fallback (degree-oriented, shuffled-hash) plan's
scaling is the number that matters.  Auto-selection at the 20x co-purchase
graph picks id orientation (disjoint replicas keep max_deg flat while m
grows), so this run must force the flag; broadcast is already off past
_TRI_BROADCAST_EDGES (m(20x) = 24M > 5M).

Usage: python tools/diag/tri_fallback20x.py  [--replicas 20]
Writes one JSON line: base/stress seconds + ratio for the forced plan.
"""
import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from timedb_spark.operators import analytics  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=20)
    args = ap.parse_args()

    stress = f"/tmp/timedb_scaleprobe_x{args.replicas}"
    if not os.path.exists(f"{stress}/_MANIFEST.json"):
        sys.exit(f"{stress} missing — run tools/scaleprobe.py --keep first")
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("timedb-tri-fallback")
    spark.sparkContext.setLogLevel("ERROR")

    def run(sf_dir: str) -> float:
        t0 = time.perf_counter()
        df = analytics.graph_triangles(spark, sf_dir, orient="degree")
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    run(base)  # warm
    b = run(base)
    s = run(stress)
    print(json.dumps({
        "metric": "tri_forced_degree_fallback",
        "orient": "degree", "broadcast": False,
        "replicas": args.replicas,
        "base_sec": b, "stress_sec": s,
        "ratio": round(s / b, 2),
    }))


if __name__ == "__main__":
    main()
