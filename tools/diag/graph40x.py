"""r13 extra-headroom probe: the graph family + dedup_semantic at 40x.

The 20x battery (SCALEPROBE_r13_x20.json) is the round's standard
evidence; this doubles the stress once more to confirm the m-derived SHJ
partition knee keeps moving (n_parts = ceil(48M/150k) = 320 at 40x) and
that corpus-derived K keeps the SemDeDup pair space linear. Reuses
scaleprobe's stress-dir builder (manifest-keyed, replicas=40 stays inside
the vec_id planted-space guard: 40 * 2200 = 88k < 100k).

Usage: python tools/diag/graph40x.py
"""
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from timedb_spark.session import get_spark  # noqa: E402

PROBES = ["graph_clustering", "graph_triangles", "dedup_semantic"]
REPLICAS = 40


def main() -> None:
    from scaleprobe import BASE_SF_DIR, build_stress_dir, stress_manifest

    spark = get_spark("timedb-graph40x")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    queries = entrymod.queries()

    stress_dir = f"/tmp/timedb_scaleprobe_x{REPLICAS}"
    manifest = stress_manifest(REPLICAS)
    mpath = f"{stress_dir}/_MANIFEST.json"
    have = None
    if os.path.exists(mpath):
        with open(mpath) as f:
            have = json.load(f)
    if have != manifest:
        import shutil
        shutil.rmtree(stress_dir, ignore_errors=True)
        t0 = time.perf_counter()
        build_stress_dir(spark, BASE_SF_DIR, stress_dir, REPLICAS)
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        print(f"built {stress_dir} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    def run(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    run(PROBES[0], BASE_SF_DIR)  # warm
    results = {}
    for name in PROBES:
        b = run(name, BASE_SF_DIR)
        s = run(name, stress_dir)
        results[name] = {"base_sec": b, "stress_sec": s, "ratio": round(s / b, 2)}
        print(f"  {name:20s} base={b:7.2f}s x{REPLICAS}={s:8.2f}s ratio={results[name]['ratio']}",
              file=sys.stderr)
    print(json.dumps({"metric": "scaleprobe_graph", "replicas": REPLICAS,
                      "linear_expectation": float(REPLICAS), "queries": results}))


if __name__ == "__main__":
    main()
