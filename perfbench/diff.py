#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload and layer by layer.

    python3 perfbench/diff.py BASE NEW
    python3 perfbench/diff.py --overhead RESULTS

BASE and NEW are result files that perfbench/run.py keeps under
.bench_build/results/, or directories of them. Results are grouped by
workload and by traced/untraced run; when a group holds several runs
each metric is their median. For every metric both sides report, the
printer shows the base value, the new value and new/base, so each ratio
comes with its base. Per-layer metrics are grouped by their layer (the
part of the name before the first dot) and followed by each layer's
self time.

--overhead prints, per workload, the tracing overhead: the traced run's
own end-to-end numbers (trace.*) against the untraced runs' numbers.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    groups = {}
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        key = (d["workload"], d["trace"])
        g = groups.setdefault(key, {"metrics": {}, "self": {}, "runs": 0})
        g["runs"] += 1
        for k, v in d["result"]["metrics"].items():
            g["metrics"].setdefault(k, ([], v["unit"]))[0].append(v["value"])
        for k, v in (d.get("self_ms") or {}).items():
            g["self"].setdefault(k, []).append(v["value"])
    out = {}
    for key, g in groups.items():
        out[key] = {
            "runs": g["runs"],
            "metrics": {k: (statistics.median(v), u) for k, (v, u) in g["metrics"].items()},
            "self": {k: statistics.median(v) for k, v in g["self"].items()},
        }
    return out


def ratio(new, base):
    if base == 0:
        return "n/a (base 0)" if new != 0 else "="
    return f"x{new / base:.3f}"


def fmt(v):
    return f"{v:.6g}"


def diff(base, new):
    for key in sorted(set(base) & set(new)):
        workload, trace = key
        b, n = base[key], new[key]
        kind = "per-layer (traced)" if trace else "end-to-end (untraced)"
        print(f"== {workload}: {kind}; base {b['runs']} run(s), new {n['runs']} run(s)")
        by_layer = {}
        for m in sorted(set(b["metrics"]) & set(n["metrics"])):
            layer = m.split(".", 1)[0] if "." in m else "end_to_end"
            by_layer.setdefault(layer, []).append(m)
        for layer, ms in by_layer.items():
            print(f"  [{layer}]")
            for m in ms:
                bv, unit = b["metrics"][m]
                nv, _ = n["metrics"][m]
                print(f"    {m:40s} base {fmt(bv):>12s} new {fmt(nv):>12s} {unit:6s} {ratio(nv, bv)}")
            if layer in b["self"] or layer in n["self"]:
                bs, ns = b["self"].get(layer, 0.0), n["self"].get(layer, 0.0)
                print(f"    {'self time':40s} base {fmt(bs):>12s} new {fmt(ns):>12s} ms     {ratio(ns, bs)}")
    missing = sorted(set(base) ^ set(new))
    for key in missing:
        print(f"== {key[0]} (trace {key[1]}): only in {'base' if key in base else 'new'}")


def overhead(res):
    for workload in sorted({w for w, _ in res}):
        plain, traced = res.get((workload, 0)), res.get((workload, 1))
        if not plain or not traced:
            print(f"== {workload}: needs both an untraced and a traced run")
            continue
        print(f"== {workload}: tracing overhead (traced vs untraced, medians)")
        for m in ("op_p50_ms", "work_per_s"):
            if m in plain["metrics"] and f"trace.{m}" in traced["metrics"]:
                pv, unit = plain["metrics"][m]
                tv, _ = traced["metrics"][f"trace.{m}"]
                print(f"    {m:20s} untraced {fmt(pv):>12s} traced {fmt(tv):>12s} {unit:4s} "
                      f"{ratio(tv, pv)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base", help="result file or directory")
    ap.add_argument("new", nargs="?", help="result file or directory")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    if a.overhead:
        overhead(load(a.base))
    elif a.new:
        diff(load(a.base), load(a.new))
    else:
        sys.exit("give BASE and NEW, or --overhead RESULTS")


if __name__ == "__main__":
    main()
