#!/usr/bin/env python3
"""Diffs two benchmark captures on the columns that do not change with
machine load, and flags every one that moved.

    python3 perfbench/capture_diff.py .bench_out/A.json .bench_out/B.json

A capture is what run.py writes to .bench_out/ for each run. Compared:
the untraced operations' Spark counts (jobs, stages, tasks, task CPU,
shuffle, spill), the count-like per-layer metrics of a traced run, and,
per span name, the spans' jobs, stages, tasks, rows, shuffle, spill and
CPU. Counts must match exactly; byte sizes may move by --bytes-tol and
CPU seconds by --cpu-tol (shares of the first capture's value). Exits 1
when anything moved.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict

SPAN_COLUMNS = ("jobs", "stages", "tasks", "rows", "shuffle_write_mb", "spill_mb", "task_cpu_s")


def kind(name):
    if name.endswith("_mb"):
        return "bytes"
    if name.endswith("cpu_s"):
        return "cpu"
    return "count"


def columns(capture):
    """Load-invariant columns of one capture, name -> value."""
    cols = {f"counts.{k}": v for k, v in capture.get("counts", {}).items()}
    for name, m in capture["result"]["metrics"].items():
        if m["unit"] in ("count", "rows", "MB"):
            cols[f"metric.{name}"] = m["value"]
    per_op = defaultdict(lambda: defaultdict(float))
    for s in capture.get("spans", []):
        for c in SPAN_COLUMNS:
            per_op[(s["name"], c)][s["op"]] += s[c]
    for (name, c), ops in per_op.items():
        cols[f"span.{name}.{c}"] = statistics.median(ops.values())
    return cols


def diff(a, b, bytes_tol, cpu_tol):
    """Rows (column, a, b, moved) over the union of both captures' columns."""
    ca, cb = columns(a), columns(b)
    rows = []
    for col in sorted(set(ca) | set(cb)):
        va, vb = ca.get(col), cb.get(col)
        if va is None or vb is None:
            moved = True
        else:
            tol = {"bytes": bytes_tol, "cpu": cpu_tol, "count": 0.0}[kind(col)]
            moved = abs(vb - va) > tol * abs(va)
        rows.append((col, va, vb, moved))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--bytes-tol", type=float, default=0.02)
    ap.add_argument("--cpu-tol", type=float, default=0.25)
    ap.add_argument("--all", action="store_true", help="print unmoved columns too")
    args = ap.parse_args()
    with open(args.a) as fa, open(args.b) as fb:
        a, b = json.load(fa), json.load(fb)
    if (a.get("workload"), a.get("trace")) != (b.get("workload"), b.get("trace")):
        print(f"warning: comparing {a.get('workload')}/trace{a.get('trace')} "
              f"with {b.get('workload')}/trace{b.get('trace')}", file=sys.stderr)
    rows = diff(a, b, args.bytes_tol, args.cpu_tol)
    moved = [r for r in rows if r[3]]
    for col, va, vb, m in rows:
        if m or args.all:
            print(f"{'MOVED' if m else 'same ':5}  {col:60}  {va!s:>14}  {vb!s:>14}")
    print(f"{len(moved)} of {len(rows)} load-invariant columns moved")
    return 1 if moved else 0


if __name__ == "__main__":
    sys.exit(main())
