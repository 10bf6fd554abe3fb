#!/usr/bin/env python3
"""The repo benchmark: one command per workload, run from the root of a
checkout.

    python3 perfbench/run.py --workload chain_live --seed 1 --seconds 10 --trace 0

It builds the program from source (perfbench/build.py), generates the
workload's inputs from --seed, runs the workload in one JVM on local[4],
checks every output, prints each metric by name with its unit, and ends with
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end set; with --trace 1 its per_layer
set, and the spans are written under .bench_build/traces/. Workload design,
metric definitions and the layer map are in perfbench/DESIGN.md.

Exit code: 0 when every check passed; 1 when a check or operation failed
(the result line is still printed) or when no result could be produced, as
in a directory without the program's sources (no result line).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("chain_live", "store_churn")
# negative control: fault -> the workload it applies to
FAULTS = {"lost_message": "chain_live", "throwing_takedown": "store_churn",
          "unclean_takedown": "store_churn"}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # workload constants, fixed in BENCHMARK.json's command
    p.add_argument("--live-rate", type=float, required=True)
    # negative control: inject one failed operation (see negative_control.py)
    p.add_argument("--inject-fault", choices=sorted(FAULTS))
    args = p.parse_args()
    if args.inject_fault and FAULTS[args.inject_fault] != args.workload:
        p.error(f"--inject-fault {args.inject_fault} applies to {FAULTS[args.inject_fault]}")
    return args


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(cp, args, work, start_ms):
    out = os.path.join(work, "result.json")
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--process-start-ms", str(start_ms),
            "--live-rate", str(args.live_rate),
            "--inject", args.inject_fault or "none"]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"run: the JVM produced no result (exit {proc.returncode})")
    with open(out) as fh:
        res = json.load(fh)
    with open(log) as fh:
        text = fh.read()
    sys.stderr.write("".join(ln + "\n" for ln in text.splitlines() if ln.startswith("[perfbench")))
    if "error" in res:
        sys.stderr.write(text[-4000:])
    return res


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    spec = load_spec()
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    cp = build.build()
    start_ms = int(time.time() * 1000)
    work = os.path.join(ROOT, ".bench_build", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if args.workload == "store_churn":
            tables.generate(os.path.join(work, "sf"), args.seed)
        res = run_jvm(cp, args, work, start_ms)
        checks = list(res.get("checks", []))
        if args.trace and "spans_file" in res:
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            shutil.copyfile(res["spans_file"], dest)
            print(f"spans: {os.path.relpath(dest, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    error = res.get("error")
    failed_checks = [c for c in checks if not c["ok"]]
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}"
              + ("" if c["ok"] else f": {c['detail']}"))
    if error:
        print(f"error: {error}")
    print(f"{args.workload}: metrics by name")
    for name, value, unit in res.get("report", []):
        print(f"  {name:<28} {value:>16.6g} {unit}")

    if args.trace:
        wanted = spec["per_layer"]
        values = res.get("layers", {})
        # a layer the workload does not exercise reports 0
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
        for name, v in sorted(values.items()):
            print(f"  {name:<40} {v:>16.6g}")
    else:
        wanted = spec["end_to_end"]
        values = res.get("e2e", {})
        missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
        if missing and not error:
            error = f"missing metrics {missing}"
        metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
                   for m in wanted if values.get(m["name"]) is not None}
    attempted = int(res.get("attempted", 0))
    failed = int(res.get("failed", 0))
    correct = not error and not failed_checks and failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed if attempted else 1, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
