#!/usr/bin/env python3
"""Median time per child span, per op kind, of one traced perfbench run.

Reads `.bench_build/traces/<workload>-seed<n>.jsonl` (written by
`perfbench/run.py --trace 1`). Each op is a root span `op:<kind>`; its
children are layer spans such as `sources.resolve`, `plans.plan` and
`exec.materialize`. Prints one `<kind>  <span>  <median ms>  <count>` row
per op kind and child span name, the op's own total first.

Usage: python3 tools/trace_ops.py <workload> <seed> [root]   (root: repo root)
"""
import collections
import json
import os
import statistics
import sys

workload, seed = sys.argv[1], sys.argv[2]
root = sys.argv[3] if len(sys.argv) > 3 else "."
path = os.path.join(root, ".bench_build", "traces", f"{workload}-seed{seed}.jsonl")
spans = [json.loads(line) for line in open(path) if line.strip()]
kind = {s["id"]: s["name"][3:] for s in spans if s["parent"] == -1}
ms = collections.defaultdict(list)
for s in spans:
    k = kind.get(s["id"], kind.get(s["parent"]))
    if k is not None:
        name = "total" if s["parent"] == -1 else s["name"]
        ms[(k, name)].append((s["end_ns"] - s["start_ns"]) / 1e6)
for (k, name), xs in sorted(ms.items(), key=lambda kv: (kv[0][0], kv[0][1] != "total", kv[0][1])):
    print(f"{k:24s} {name:28s} {statistics.median(xs):10.1f} {len(xs):5d}")
