"""Micro-bench: v2 state-API wall-clock vs state-key cardinality.

The state API v2 (``transformWithStateInPandas``) pays a protobuf RPC to the
JVM state server PER KEY PER BATCH, so the number of distinct grouping keys
— not row volume — is the wall-clock lever. stream_latest_state_v2 is
therefore keyed at the ENTITY level (``series_id``, ~1.5k keys at sf0.1) by
default rather than the fine ``(series_id, valid_time)`` grain (~95k keys)
that v1 collapses in-band with no per-key RPC. This script MEASURES that
claim on identical input rows and writes one JSON artifact
(KEYBENCH_r{N}.json) so the guidance in streaming/state_v2.py stays
verifiable as the code evolves (VERDICT r5 task #6).

Usage: python tools/keybench.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from timedb_spark.io.tables import bitemporal_frame  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402


def main(sf_dir: str, out_path: str) -> int:
    spark = get_spark("keybench")
    from timedb_spark.streaming.state import stream_latest_state
    from timedb_spark.streaming.state_v2 import _HAVE_TWS, stream_latest_state_v2

    result: dict = {"sf_dir": sf_dir, "runs": {}}
    if not (_HAVE_TWS and entrymod._workers_have_protobuf(spark)):
        result["skipped"] = "state API v2 unavailable in this session (no protobuf in workers)"
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps(result))
        return 1

    sv = bitemporal_frame(spark, sf_dir).select(
        "series_id", "valid_time", "knowledge_time", "change_time", "value"
    )
    d = entrymod._stage_stream_dir(spark, sf_dir, sv, "sv", 4)
    result["n_rows"] = sv.count()
    result["n_keys_fine"] = sv.select("series_id", "valid_time").distinct().count()
    result["n_keys_entity"] = sv.select("series_id").distinct().count()

    def fresh_stream():
        return spark.readStream.schema(sv.schema).option("maxFilesPerTrigger", 2).parquet(d)

    # identical input rows and drain shape; only the state keying differs
    runs = [
        ("v2_fine_key", lambda s: entrymod._drain_v2(spark, stream_latest_state_v2(s, per_valid_time=True), "update")),
        ("v2_entity_key", lambda s: entrymod._drain_v2(spark, stream_latest_state_v2(s), "update")),
        ("v1_arrow_state", lambda s: entrymod._drain_with_few_partitions(spark, stream_latest_state(s), "update")),
    ]
    for name, run in runs:
        t0 = time.time()
        n = run(fresh_stream()).count()
        result["runs"][name] = {"sec": round(time.time() - t0, 2), "rows_emitted": n}

    fine = result["runs"]["v2_fine_key"]["sec"]
    entity = result["runs"]["v2_entity_key"]["sec"]
    result["fine_over_entity_ratio"] = round(fine / entity, 2) if entity else None
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.1"
    out = args[1] if len(args) > 1 else "KEYBENCH.json"
    sys.exit(main(sf, out))
