#!/usr/bin/env python3
"""Compare two sets of untraced results (directories of the JSON records run.py
writes to .bench_build/perfbench/results) metric by metric, per workload.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Refuses (exit 2) when the two sets ran in different environments: results
from another core count, heap, JDK, Spark version or run length do not
measure the same thing. Prints each side's median and the change against the
metric's bound in BENCHMARK.json.
"""
import glob
import json
import os
import statistics
import sys

ENV_KEYS = ["nproc", "master", "shuffle_partitions", "driver_heap_mb", "jdk", "spark", "os",
            "run_seconds"]
BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCHMARK.json")


def load(d):
    rs = [json.load(open(f)) for f in sorted(glob.glob(os.path.join(d, "*-trace0.json")))]
    if not rs:
        sys.exit(f"no untraced results in {d}")
    return rs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    envs = {tuple((k, r["env"].get(k)) for k in ENV_KEYS) for r in base + new}
    if len(envs) > 1:
        print("refusing to compare results from different environments:", file=sys.stderr)
        for e in sorted(envs):
            print("  " + ", ".join(f"{k}={v}" for k, v in e), file=sys.stderr)
        return 2
    metrics = json.load(open(BENCH))["end_to_end"]
    for w in sorted({r["env"]["workload"] for r in base + new}):
        for m in metrics:
            def med(rs):
                vs = [r["metrics"][m["name"]]["value"] for r in rs if r["env"]["workload"] == w]
                return statistics.median(vs) if vs else float("nan")
            b, n = med(base), med(new)
            worse = (n - b) / b if m["better"] == "lower" else (b - n) / b
            verdict = "worse beyond bound" if worse > m["bound"] else "within bound"
            print(f"{w:12s} {m['name']:20s} {b:12.5g} -> {n:12.5g}  "
                  f"{-worse:+7.1%}  (bound {m['bound']:.0%}: {verdict})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
