"""Capture .explain("formatted") for named queries into the round's plans
directory (``SPARK_GRAFT_PLANS_DIR``, default plans/r14).

Usage: python tools/diag/capture_plans.py <suffix> [query ...]

Writes <plans_dir>/<query>_<suffix>.txt for each query (default: the bench
headline set). Planning only — nothing is executed, so this is cheap and
safe to run alongside other sessions.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "bt_read_latest",
    "bt_read_overlapping",
    "bt_read_latest_changes",
    "bt_read_relative",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "events_window",
    "asof_join",
]


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR", os.path.join(ROOT, "plans", "r14"))
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("timedb_spark-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
