#!/usr/bin/env python3
"""Run each workload on several seeds and report, per end-to-end metric, the
median and the spread (first-to-third quartile distance over the median, as
statistics.quantiles(values, n=4) gives the quartiles) against the bound in
BENCHMARK.json.

    python3 perfbench/steadiness.py --seeds 1-10 [--workload genome_join]

Writes the values and spreads to .bench_build/perfbench/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

BENCH = os.path.join(build.ROOT, "BENCHMARK.json")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    bench = json.load(open(BENCH))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    runner = os.path.join(build.HERE, "run.py")
    report = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, runner, "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            if not res or not res["correct"]:
                sys.exit(f"{w} seed {s} failed (rc={p.returncode}):\n{p.stderr[-2000:]}")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {s}: " + " ".join(f"{m}={values[m][-1]:.4g}" for m in bounds),
                  flush=True)
        report[w] = {}
        for m, vs in values.items():
            med = statistics.median(vs)
            sp = spread(vs) if len(vs) >= 2 else float("nan")
            report[w][m] = {"median": med, "spread": sp, "bound": bounds[m], "values": vs}
            flag = "" if m == "setup_s" or sp < bounds[m] / 3 else "  <-- above bound/3"
            print(f"{w:14s} {m:20s} median {med:12.5g}  spread {sp:6.3f}  bound {bounds[m]}{flag}")
    out = os.path.join(build.OUT, "steadiness.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"written to {out}")


if __name__ == "__main__":
    main()
