"""Higher-order-function duplication audit over the full query registry.

Catalyst's CollapseProject + PushDownPredicates freely inline derived
columns into later expressions — including into LAMBDA BODIES, where the
inlined expression is re-evaluated PER ARRAY ELEMENT (HOFs are
CodegenFallback, so no common-subexpression elimination rescues them).
dedup_editdist (r14 #2) was one instance; ts_runs_test turned out to
re-run array_sort O(n) times per row the same way.

This audit counts expensive-expression occurrences (array_sort /
aggregate / transform / zip_with / filter-lambda) in each query's
FINAL physical plan and flags queries whose counts far exceed what the
operator source plausibly writes once. Planning only — nothing executes.

A pinned query's folds run in its ``localCheckpoint`` legs, which the
final plan shows only as ``Scan ExistingRDD`` leaves. A query whose final
plan has no HOF but does have such scans is listed with its scan count
and the note "pinned legs not audited", so an empty count never reads as
clean.

Usage: python tools/diag/hof_dup_audit.py [--out OUT.json] [query ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402

PATTERNS = {
    "array_sort": re.compile(r"array_sort\("),
    "aggregate": re.compile(r"\baggregate\("),
    "transform": re.compile(r"\btransform\("),
    "zip_with": re.compile(r"\bzip_with\("),
    "sequence": re.compile(r"\bsequence\("),
}
PINNED_SCAN = re.compile(r"Scan ExistingRDD")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark("timedb_spark-hofaudit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = args.queries or sorted(qs)

    rows = []
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001 - report, keep auditing
            rows.append({"query": name, "error": str(e)[:200]})
            continue
        counts = {k: len(p.findall(plan)) for k, p in PATTERNS.items()}
        total = sum(counts.values())
        pinned = len(PINNED_SCAN.findall(plan))
        if total:
            rows.append({"query": name, "total": total, **counts, "pinned_scans": pinned})
        elif pinned:
            rows.append({"query": name, "total": 0, "pinned_scans": pinned, "note": "pinned legs not audited"})

    rows.sort(key=lambda r: -r.get("total", 0))
    out = {"sf_dir": args.sf, "flagged": rows}
    text = json.dumps(out, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    for r in rows[:40]:
        print(r)
    for r in rows[40:]:
        if r.get("note"):
            print(r)


if __name__ == "__main__":
    main()
