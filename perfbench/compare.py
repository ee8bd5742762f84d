"""Record benchmark result sets and compare two of them.

Record: run each workload once per seed in each of two checkouts, the two
runs of a seed back to back and the side that goes first alternating from
seed to seed (parent, change, change, parent, ...), so that a drift of the
host falls on both sides alike. Each run appends one JSON line
(``{"workload", "seed", "trace", "result", "figures"}``) to
``<out-dir>/parent.jsonl`` or ``<out-dir>/change.jsonl``; ``figures``
holds the named figures the run printed before its result
(``write_p50_s``, ``analytics_pass_s``, ...)::

    python3 perfbench/compare.py record --parent ../parent --change . --out-dir results \
        --seeds 1-10 [--workloads store,registry] [--trace 0]

Both checkouts must hold the same ``perfbench/`` and ``BENCHMARK.json``
(copy them into the parent's checkout), so both sides run identical
benchmark code. Give the same checkout twice to record two sets of runs of
one commit, the way the benchmark's own run-to-run agreement is measured.

Spread: ``python3 perfbench/compare.py spread parent.jsonl`` prints each
metric's quartiles and their distance as a share of the median.

Compare: for each workload and metric (and each named figure), both
sides' median and quartiles, the share of same-seed pairs the change won
(ties count for neither side) and, for end-to-end metrics, a verdict
against the metric's bound in ``BENCHMARK.json``::

    python3 perfbench/compare.py compare parent.jsonl change.jsonl

Verdicts:

- ``improved``: the change won at least 9/10 of the pairs, its median is
  better than the parent's by more than the parent's own spread (the
  distance between its quartiles), and no more ops failed than on the
  parent;
- ``unresolved``: not improved, and the parent's spread is wider than the
  bound, unless every change run read better, or every one worse, than
  every parent run;
- ``worse``: the change's median is worse than the parent's by more than
  the bound;
- ``unchanged``: otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# "<workload> <name> = <value> <unit> (<note>)", as run.py prints a figure
FIGURE = re.compile(r"^\S+ (\S+) = (\S+) (\S+)")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def record(args) -> int:
    spec = load_spec()
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(args.out_dir, exist_ok=True)
    sides = [("parent", os.path.abspath(args.parent)), ("change", os.path.abspath(args.change))]
    for i, seed in enumerate(parse_seeds(args.seeds)):
        for w in names:
            for side, root in (sides if i % 2 == 0 else sides[::-1]):
                cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
                proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
                lines = proc.stdout.strip().splitlines()
                if proc.returncode != 0 or not lines:
                    print(f"{side} {w} seed {seed}: run failed (exit {proc.returncode})\n{proc.stderr[-2000:]}",
                          file=sys.stderr)
                    return 1
                result = json.loads(lines[-1])
                with open(os.path.join(args.out_dir, f"{side}.jsonl"), "a") as out:
                    out.write(json.dumps({"workload": w, "seed": seed, "trace": args.trace, "result": result,
                                          "figures": parse_figures(lines[:-1])}) + "\n")
                print(f"{side} {w} seed {seed}: correct={result['correct']} failed={result['failed']}", flush=True)
    return 0


def parse_figures(lines: list[str]) -> dict[str, dict]:
    figures = {}
    for line in lines:
        m = FIGURE.match(line)
        if m:
            try:
                figures[m[1]] = {"value": float(m[2]), "unit": m[3]}
            except ValueError:  # "n/a"
                pass
    return figures


def load_set(path: str) -> dict[str, dict[int, dict]]:
    """{workload: {seed: result}}; a later line for the same run wins. A
    result's figures join its metrics under the names they were printed
    with (a metric of the same name wins)."""
    runs: dict[str, dict[int, dict]] = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                result = dict(r["result"], metrics={**r.get("figures", {}), **r["result"]["metrics"]})
                runs.setdefault(r["workload"], {})[r["seed"]] = result
    return runs


def lower_is_better(name: str, metrics: dict[str, dict]) -> bool:
    """A declared metric's direction; a figure is better lower unless it is
    a rate."""
    if name in metrics:
        return metrics[name]["better"] == "lower"
    return not name.endswith("_per_s")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        x = xs[0] if xs else float("nan")
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]], lower_better: bool,
            bound: float | None, more_failures: bool) -> tuple[str, float]:
    sign = 1.0 if lower_better else -1.0
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    share = wins / len(pairs) if pairs else 0.0
    if bound is None:
        return "n/a", share
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gain = sign * (pm - cm)  # > 0: change better
    spread = p3 - p1
    if share >= 0.9 and gain > spread and not more_failures:
        return "improved", share
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    all_worse = all(sign * (p - c) < 0 for p in parent for c in change)
    if pm and spread / abs(pm) > bound and not (all_better or all_worse):
        return "unresolved", share
    if -gain > bound * abs(pm):
        return "worse", share
    return "unchanged", share


def compare(args) -> int:
    spec = load_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load_set(args.parent), load_set(args.change)
    print(f"{'workload':14s} {'metric':48s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} {'won':>5s}  verdict")
    for w in sorted(set(parent) & set(change)):
        p_runs, c_runs = parent[w], change[w]
        more_failures = sum(r["failed"] for r in c_runs.values()) > sum(r["failed"] for r in p_runs.values())
        names = sorted(set().union(*(r["metrics"] for r in p_runs.values())))
        for name in names:
            pv = [r["metrics"][name]["value"] for r in p_runs.values() if name in r["metrics"]]
            cv = [r["metrics"][name]["value"] for r in c_runs.values() if name in r["metrics"]]
            if not pv or not cv:
                continue
            pairs = [(p_runs[s]["metrics"][name]["value"], c_runs[s]["metrics"][name]["value"])
                     for s in sorted(set(p_runs) & set(c_runs))
                     if name in p_runs[s]["metrics"] and name in c_runs[s]["metrics"]]
            v, share = verdict(pv, cv, pairs, lower_is_better(name, metrics), metrics.get(name, {}).get("bound"),
                               more_failures)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:14s} {name:48s} {fmt(quartiles(pv)):>30s} {fmt(quartiles(cv)):>30s} {share:5.2f}  {v}")
        pf = sum(r["failed"] for r in p_runs.values())
        cf = sum(r["failed"] for r in c_runs.values())
        print(f"{w:14s} {'failed ops (sum)':48s} {pf:>30d} {cf:>30d}")
    return 0


def spread(args) -> int:
    """Run-to-run spread of one result set: per workload and metric, the
    quartiles and their distance as a share of the median."""
    spec = load_spec()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    runs = load_set(args.results)
    print(f"{'workload':14s} {'metric':48s} {'n':>3s} {'q1/med/q3':>30s} {'spread':>7s} {'bound':>6s}")
    for w in sorted(runs):
        names = sorted(set().union(*(r["metrics"] for r in runs[w].values())))
        for name in names:
            xs = [r["metrics"][name]["value"] for r in runs[w].values() if name in r["metrics"]]
            q1, med, q3 = quartiles(xs)
            share = (q3 - q1) / abs(med) if med else 0.0
            b = bounds.get(name)
            print(f"{w:14s} {name:48s} {len(xs):3d} {'/'.join(f'{x:.4g}' for x in (q1, med, q3)):>30s} "
                  f"{share:7.3f} {'' if b is None else b:>6}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Record and compare benchmark result sets.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record", help="run workloads over seeds in two checkouts, interleaved")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--out-dir", required=True, help="gets parent.jsonl and change.jsonl")
    r.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    r.add_argument("--workloads", default="", help="comma-separated; default all")
    r.add_argument("--trace", type=int, choices=[0, 1], default=0)
    c = sub.add_parser("compare", help="compare a parent and a change result set")
    c.add_argument("parent")
    c.add_argument("change")
    sp = sub.add_parser("spread", help="run-to-run spread of one result set")
    sp.add_argument("results")
    args = ap.parse_args(argv)
    return {"record": record, "compare": compare, "spread": spread}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
