#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the harness (perfbench/build.py), runs the workload in a
fresh JVM for S seconds of closed-loop passes, checks the outputs, and
prints as its last line {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. The full run record (every pass, call and span)
is kept in .bench_build/runs/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build
import dashboard_check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# time a run may take beyond --seconds: set-up, the first pass, the
# steady passes that overrun the window, and the checks
ALLOWANCE_S = 160


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    classpath = build.build()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    runs = os.path.join(build.BUILD, "runs")
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    os.makedirs(runs, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(runs, tag + ".json")
    log_path = os.path.join(runs, tag + ".log")
    if os.path.exists(record_path):
        os.remove(record_path)
    cmd = build.java(classpath, work, "perfbench.Main",
                     "--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--work", work, "--out", record_path,
                     "--expected", os.path.join(HERE, "expected.json"))
    # a SIGTERM to this process still stops the JVM, through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(f"terminated; log: {log_path}"))
    timeout = args.seconds + ALLOWANCE_S
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                raise SystemExit(f"harness exceeded {timeout:.0f} s; log: {log_path}")
        if code != 0 or not os.path.exists(record_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"harness failed (exit {code}); log: {log_path}")
        with open(record_path) as f:
            rec = json.load(f)
        checks = list(rec["checks"])
        if "dashboard" in rec:
            checks += dashboard_check.check(rec["dashboard"]["landed"], rec["dashboard"]["results"])
            rec["checks"] = checks
            with open(record_path, "w") as f:
                json.dump(rec, f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    failed_checks = [c for c in checks if not c["ok"]]
    attempted = rec["attempted"]
    failed = rec["failed_calls"] + len(failed_checks)
    e2e = dict(rec["end_to_end"])
    e2e["ok_op_ratio"] = 1.0 - failed / attempted
    if args.trace:
        # a call only another workload makes reads 0 here: none was made
        values = dict.fromkeys(rec["not_made"], 0.0)
        values.update(rec["per_layer"])
        kind = "per_layer"
    else:
        values, kind = e2e, "end_to_end"
    missing = [m["name"] for m in spec[kind] if m["name"] not in values]
    if missing:
        raise SystemExit(f"the run record lacks {kind} metrics: {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}

    for c in failed_checks:
        print(f"check failed: {c['name']}: {c['detail']}")
    p = rec["pass_s"]
    print(f"{args.workload} seed={args.seed} cpus={rec['cpus']} loadavg_start={rec['loadavg_start']} "
          f"cpu_fraction={rec['cpu_fraction']:.3f} steal_fraction={rec['steal_fraction']:.3f} "
          f"passes={len(rec['passes'])} "
          f"pass_s median={p['median']:.4f} q1={p['q1']:.4f} q3={p['q3']:.4f} n={p['n']} "
          f"op_tail=p{rec['op_tail']['percentile']:.1f} of n={rec['op_tail']['n']} "
          f"failed_op_ratio={failed / attempted:.4f}")
    print(f"record: {os.path.relpath(record_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
