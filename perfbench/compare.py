#!/usr/bin/env python3
"""Summarise and compare sets of benchmark runs.

    python3 perfbench/compare.py BASE.txt [CHANGE.txt]

Each file holds the stdout of several runs of one workload (each run prints
a provenance line, then its result line). For every metric this prints the
median, quartiles and quartile spread (Q3 - Q1) / median. Given a second
set, it also prints the change of the median against the bound in
BENCHMARK.json. It refuses to compare runs whose host width (nproc) or
Spark master differ: suite totals from hosts of different width are not
comparable.
"""
import json
import os
import statistics
import sys

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs, prov = [], None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            doc = json.loads(line)
            if "provenance" in doc:
                prov = doc["provenance"]
            elif "metrics" in doc:
                runs.append((prov, doc))
    if not runs:
        raise SystemExit(f"{path}: no benchmark results")
    return runs


def width(runs, path):
    keys = {((p or {}).get("nproc"), (p or {}).get("master")) for p, _ in runs}
    if len(keys) != 1:
        raise SystemExit(f"{path}: runs from hosts of different width {sorted(map(str, keys))}")
    return keys.pop()


def summary(runs):
    out = {}
    for name in runs[0][1]["metrics"]:
        vals = [r["metrics"][name]["value"] for _, r in runs if name in r["metrics"]]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        out[name] = (med, q[0], q[2], M.quartile_spread(vals) if len(vals) > 1 else 0.0)
    return out


def main():
    base = load(sys.argv[1])
    change = load(sys.argv[2]) if len(sys.argv) > 2 else None
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    if change and width(base, sys.argv[1]) != width(change, sys.argv[2]):
        raise SystemExit("refusing to compare runs from hosts of different width")
    width(base, sys.argv[1])
    sb = summary(base)
    sc = summary(change) if change else {}
    bad = 0
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}"
          + ("  change  bound" if change else ""))
    for name, (med, q1, q3, spread) in sb.items():
        row = f"{name:32} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f}"
        if name in sc and name in bounds:
            c = sc[name][0]
            rel = (c - med) / med if med else 0.0
            worse = rel if bounds[name]["better"] == "lower" else -rel
            flag = " WORSE" if worse > bounds[name]["bound"] else ""
            bad += bool(flag)
            row += f" {rel:+7.3f} {bounds[name]['bound']:5.2f}{flag}"
        print(row)
    print(f"runs: {len(base)}" + (f" vs {len(change)}" if change else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
