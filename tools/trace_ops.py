#!/usr/bin/env python3
"""Median time per child span, per op kind, of one traced perfbench run.

Reads `.bench_build/traces/<workload>-seed<n>.jsonl` (written by
`perfbench/run.py --trace 1`). Each op is a root span `op:<kind>`; its
children are layer spans such as `sources.resolve`, `plans.plan` and
`exec.materialize`. Prints one `<kind>  <span>  <median ms>  <count>` row
per op kind and child span name, the op's own total first.

With `other_root` (a checkout of the parent commit, traced with the same
workload and seed), prints the parent's median (from `other_root`) and
the change's (from `root`) side by side, with their ratio: one
`<kind>  <span>  <parent ms>  <change ms>  <change/parent>  <count>` row
per op kind and span present in either trace ("-" where one lacks it).

Usage: python3 tools/trace_ops.py <workload> <seed> [root] [other_root]
       (root: repo root, default "."; other_root: the parent's root)
"""
import collections
import json
import os
import statistics
import sys


def medians(root, workload, seed):
    path = os.path.join(root, ".bench_build", "traces", f"{workload}-seed{seed}.jsonl")
    spans = [json.loads(line) for line in open(path) if line.strip()]
    kind = {s["id"]: s["name"][3:] for s in spans if s["parent"] == -1}
    ms = collections.defaultdict(list)
    for s in spans:
        k = kind.get(s["id"], kind.get(s["parent"]))
        if k is not None:
            name = "total" if s["parent"] == -1 else s["name"]
            ms[(k, name)].append((s["end_ns"] - s["start_ns"]) / 1e6)
    return {key: (statistics.median(xs), len(xs)) for key, xs in ms.items()}


def order(key):
    return (key[0], key[1] != "total", key[1])


workload, seed = sys.argv[1], sys.argv[2]
root = sys.argv[3] if len(sys.argv) > 3 else "."
change = medians(root, workload, seed)
if len(sys.argv) > 4:
    parent = medians(sys.argv[4], workload, seed)
    print(f"{'kind':24s} {'span':28s} {'parent':>10s} {'change':>10s} {'ratio':>7s} {'count':>5s}")
    for key in sorted(set(change) | set(parent), key=order):
        p, c = parent.get(key), change.get(key)
        ratio = f"{c[0] / p[0]:7.2f}" if p and c and p[0] > 0 else f"{'-':>7s}"
        n = (c or p)[1]
        print(f"{key[0]:24s} {key[1]:28s} "
              f"{f'{p[0]:.1f}' if p else '-':>10s} {f'{c[0]:.1f}' if c else '-':>10s} "
              f"{ratio} {n:5d}")
else:
    for key in sorted(change, key=order):
        med, n = change[key]
        print(f"{key[0]:24s} {key[1]:28s} {med:10.1f} {n:5d}")
