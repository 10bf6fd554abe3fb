#!/usr/bin/env python3
"""Negative control of the benchmark's failure accounting.

    python3 perfbench/negative_control.py [--seed N] [workload ...]

For each workload (default: those of BENCHMARK.json) it runs the benchmark
once as is and once with each fault of run.py's FAULTS that applies to it:
chain_live loses one message in the source; store_churn gets a takedown
that throws, and one that returns a store not purged. Each injected run
must exit 1 and print "correct": false with failed >= 1, and its total_s
must count the failed operation at the 180 s penalty, so it is longer than
both the penalty and the clean run's: a failure never makes a run faster.
Exits 1 if any of that does not hold.
"""
import argparse
import json
import os
import subprocess
import sys

from run import FAULTS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PENALTY_S = 180  # Main.FailurePenaltyMs


def run(spec, workload, seed, fault=None):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    if fault:
        cmd += ["--inject-fault", fault]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    return r.returncode, json.loads(r.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("workloads", nargs="*",
                   default=[w["name"] for w in spec["workloads"]])
    args = p.parse_args()
    ok = True
    for w in args.workloads:
        rc0, clean = run(spec, w, args.seed)
        if rc0 != 0 or not clean["correct"]:
            print(f"{w}: clean run failed (exit {rc0})")
            ok = False
            continue
        for fault in sorted(f for f, fw in FAULTS.items() if fw == w):
            rc1, bad = run(spec, w, args.seed, fault)
            problems = []
            if rc1 != 1 or bad["correct"] or bad["failed"] < 1:
                problems.append(f"fault not reported: exit {rc1}, correct={bad['correct']}, "
                                f"failed={bad['failed']}")
            a, b = clean["metrics"]["total_s"]["value"], bad["metrics"]["total_s"]["value"]
            if b < max(a, PENALTY_S):
                problems.append(f"total_s does not count the failure: {a:.6g} -> {b:.6g}")
            print(f"{w} {fault}: clean failed={clean['failed']}/{clean['attempted']}, "
                  f"injected failed={bad['failed']}/{bad['attempted']} "
                  f"correct={bad['correct']} exit={rc1}: "
                  + ("ok" if not problems else "; ".join(problems)))
            for name in bad["metrics"]:
                print(f"  {name:<16} clean {clean['metrics'][name]['value']:>12.6g}"
                      f"  injected {bad['metrics'][name]['value']:>12.6g}")
            ok &= not problems
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
