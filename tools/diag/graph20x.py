"""r13 diagnosis: why graph_clustering went 47.3x at 20x (VERDICT r12 #1).

Builds (or reuses) the 20x stress dir via tools/scaleprobe.build_stress_dir,
runs one graph query, and dumps per-stage shuffle/spill metrics from the
local UI REST API so the superlinearity source is measured, not guessed.
"""
import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from timedb_spark.session import get_spark  # noqa: E402


def stage_metrics(spark):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages?status=complete") as r:
        stages = json.load(r)
    return stages


def main():
    import argparse
    ap = argparse.ArgumentParser()
    ap.add_argument("query", nargs="?", default="graph_clustering")
    ap.add_argument("--replicas", type=int, default=20)
    ap.add_argument("--top", type=int, default=12)
    args = ap.parse_args()

    spark = get_spark("timedb-graph-diag", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from scaleprobe import BASE_SF_DIR, build_stress_dir, stress_manifest

    stress_dir = f"/tmp/timedb_scaleprobe_x{args.replicas}"
    manifest = stress_manifest(args.replicas)
    mpath = f"{stress_dir}/_MANIFEST.json"
    have = None
    if os.path.exists(mpath):
        with open(mpath) as f:
            have = json.load(f)
    if have != manifest:
        import shutil
        shutil.rmtree(stress_dir, ignore_errors=True)
        t0 = time.perf_counter()
        build_stress_dir(spark, BASE_SF_DIR, stress_dir, args.replicas)
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        print(f"built stress dir in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    import __spark_entry__ as entrymod
    q = entrymod.queries()[args.query]

    n_before = {s["stageId"] for s in stage_metrics(spark)}
    t0 = time.perf_counter()
    df = q(spark, stress_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    print(f"\n{args.query} @ x{args.replicas}: {wall:.1f}s\n")

    stages = [s for s in stage_metrics(spark) if s["stageId"] not in n_before]
    stages.sort(key=lambda s: -s.get("executorRunTime", 0))
    hdr = f"{'stage':>5} {'runTime_s':>9} {'inRec':>12} {'outRec':>12} {'shufRead':>10} {'shufWrite':>10} {'memSpill':>10} {'diskSpill':>10}  name"
    print(hdr)
    for s in stages[: args.top]:
        print(f"{s['stageId']:>5} {s.get('executorRunTime',0)/1000:>9.1f} "
              f"{s.get('inputRecords',0) or s.get('shuffleReadRecords',0):>12} "
              f"{s.get('outputRecords',0) or s.get('shuffleWriteRecords',0):>12} "
              f"{s.get('shuffleReadBytes',0)/1e9:>9.2f}G {s.get('shuffleWriteBytes',0)/1e9:>9.2f}G "
              f"{s.get('memoryBytesSpilled',0)/1e9:>9.2f}G {s.get('diskBytesSpilled',0)/1e9:>9.2f}G  "
              f"{s.get('name','')[:60]}")
    print("\nexecuted plan:\n")
    print(df._jdf.queryExecution().executedPlan().toString()[:6000])


if __name__ == "__main__":
    main()
