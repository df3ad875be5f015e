#!/usr/bin/env python3
"""Prints the "where the time goes" table of traced runs.

    python3 perfbench/tools/layer_table.py <run record .json> ...

Each argument is a run record that perfbench/run.py wrote under
.bench_build/perfbench/runs/ (a --trace 1 run, optionally next to the
--trace 0 run of the same workload and seed). For each traced run it prints
the operation count, the mean self time per operation of each span kind
(the span's duration minus the part its child spans cover), and every
per-layer metric with its unit.
"""
import json
import os
import sys

KIND_ORDER = ("op", "ask", "build", "action", "phase", "codegen", "job", "stage", "batch")


def table(path):
    with open(path) as f:
        r = json.load(f)
    ops = len(r["outcomes"])
    wall = sum(o["wall_ms"] for o in r["outcomes"]) / max(1, ops)
    print(f"### {r['workload']} (seed {r['seed']}, {ops} operations, "
          f"mean wall {wall:.1f} ms/op)\n")
    over = r.get("tracing_overhead_frac")
    if over is not None:
        print(f"Tracing overhead on op_p50_ms against the untraced run of the same "
              f"seed: {over * 100:+.1f}%.\n")
    print("| span kind | self ms/op | share of op wall |")
    print("|---|---:|---:|")
    selfs = r.get("self_ms_per_op", {})
    for k in sorted(selfs, key=lambda k: KIND_ORDER.index(k) if k in KIND_ORDER else 99):
        print(f"| {k} | {selfs[k]:.1f} | {selfs[k] / wall * 100:.1f}% |")
    print("\n| metric | value | unit |")
    print("|---|---:|---|")
    for k, v in r["metrics"].items():
        print(f"| {k} | {v['value']:.4g} | {v['unit']} |")
    print()


if __name__ == "__main__":
    for p in sys.argv[1:]:
        table(os.path.abspath(p))
