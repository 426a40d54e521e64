#!/usr/bin/env python3
"""Compare the drift-free counter tables of two traced records of the same
workload and seed; print every row and counter that differs.

  python3 perfbench/counters_diff.py <record A> <record B>

Exit status 0 when the tables repeat exactly, 1 otherwise."""
import json
import sys


def main(a, b):
    ra, rb = (json.load(open(p)) for p in (a, b))
    if (ra["workload"], ra["seed"]) != (rb["workload"], rb["seed"]):
        sys.exit("records differ in workload or seed")
    rows_a, rows_b = ra["counters"], rb["counters"]
    diffs = []
    if [r["op"] for r in rows_a] != [r["op"] for r in rows_b]:
        diffs.append("operation lists differ")
    for x, y in zip(rows_a, rows_b):
        for k in x:
            if k not in ("op", "layer") and x[k] != y.get(k):
                diffs.append(f"{x['op']}: {k} {x[k]} vs {y.get(k)}")
    print(json.dumps({"workload": ra["workload"], "seed": ra["seed"], "rows": len(rows_a),
                      "differences": diffs}, indent=1))
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
