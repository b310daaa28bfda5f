#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its result.

    python3 perfbench/run.py --workload genome_join --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), starts
one fresh JVM on local[nproc], and prints the result as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. The full record
(environment, per-call timings, failures, and for --trace 1 the per-layer
record and spans) goes to .bench_build/perfbench/results/.

Other modes:
    --selftest                 the benchmark's own tests (perfbench/test)
    --record-pins              run on the default seed and store the observed
                               rows+sig of every call in perfbench/pinned.json
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
OUT = build.OUT
WORKLOADS = ["genome_join", "bed_ingest"]
PINS = os.path.join(HERE, "pinned.json")
# The run must end within 180 s; leave room for JVM teardown and cleanup.
RUN_TIMEOUT_S = 170


def java_cmd(main, args, work):
    archive = f"-XX:SharedArchiveFile={build.ARCHIVE}" if os.path.exists(build.ARCHIVE) else None
    return build.java_cmd(main, args, os.path.join(work, "tmp"), archive)


def run_java(cmd, log_path):
    """Run the JVM in its own process group; return (rc, stdout lines)."""
    lines = []
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s and was killed",
                  file=sys.stderr)
            return 1, []
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        lines = out.splitlines()
    return p.returncode, lines


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else ""


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-pins", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        dig = build.build()
    except build.BuildError as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2

    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    log_path = os.path.join(logs, f"{tag}.log")
    try:
        if a.selftest:
            cmd = java_cmd("perfbench.SelfTest",
                           ["--work", work, "--pins", PINS,
                            "--bench", os.path.join(ROOT, "BENCHMARK.json")], work)
            rc, lines = run_java(cmd, log_path)
            print("\n".join(lines))
            if rc != 0:
                print(f"[perfbench] self-test failed (rc={rc}); log: {log_path}",
                      file=sys.stderr)
            return rc
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", os.path.join(OUT, "results"),
                "--pins", PINS, "--commit", commit(), "--digest", dig]
        if a.record_pins:
            args.append("--record-pins")
        rc, lines = run_java(java_cmd("perfbench.Main", args, work), log_path)
        for line in lines[:-1]:
            print(line, file=sys.stderr)
        result = None
        if rc == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if not isinstance(result, dict) or set(result) != {"correct", "attempted",
                                                           "failed", "metrics"}:
            print(f"[perfbench] run failed (rc={rc}); JVM log: {log_path}", file=sys.stderr)
            return 1
        if a.record_pins:
            rec = os.path.join(OUT, "results", f"{a.workload}-s{a.seed}-trace{a.trace}.json")
            observed = json.load(open(rec))["observed_pins"]
            pins = json.load(open(PINS)) if os.path.exists(PINS) else {}
            pins[a.workload] = dict(sorted(observed.items()))
            with open(PINS, "w") as fh:
                json.dump(pins, fh, indent=1, sort_keys=True)
                fh.write("\n")
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
