#!/usr/bin/env python3
"""Fraud pipeline benchmark: one run of one workload.

    python3 fraudbench/run.py --workload swipe_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program and the benchmark if
their sources changed (build.py), starts one JVM on the compiled classes,
checks the outputs, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones (a layer the workload does not exercise
reads 0). `--self-test` runs the checkers' own tests instead.
The optional --cores, --partitions and --rate change the session and the
swipe rate for experiments (see README.md); the benchmark's runs leave
them at their defaults.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

STARTED = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check_queries  # noqa: E402

WORKLOADS = ("swipe_stream", "lookup_refresh", "query_mix")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 170


def java(main, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(main, args)
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                              cwd=work, timeout=timeout)


def self_test():
    build.ensure()
    work = os.path.join(HERE, "work", "self_test")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    p = java("fraudbench.SelfTest", [], work, JVM_TIMEOUT_S)
    sys.stdout.write(p.stdout)
    py = subprocess.run([sys.executable, "-m", "unittest", "-q", "test_check_queries"], cwd=HERE)
    return 0 if p.returncode == 0 and py.returncode == 0 else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int)
    ap.add_argument("--partitions", type=int)
    ap.add_argument("--rate", type=int)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    t_build = time.time()
    build.ensure()
    # set-up time counts from process start, less any compile this run did
    started = STARTED + (time.time() - t_build if time.time() - t_build > 5 else 0.0)

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", DATA,
            "--launched-ms", repr(started * 1000.0)]
    for k in ("cores", "partitions", "rate"):
        if getattr(a, k) is not None:
            args += [f"--{k}", str(getattr(a, k))]
    os.sync()  # the previous run's writes are flushed before this one, not during it
    p = java("fraudbench.Main", args, work, JVM_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith("FRAUDBENCH ")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"fraudbench: {a.workload} run failed (exit {p.returncode})")
    out = json.loads(lines[-1][len("FRAUDBENCH "):])
    for n in out.get("notes", []):
        print(f"fraudbench: {n}", file=sys.stderr)

    correct = bool(out["correct"])
    if a.workload == "query_mix":
        problems = check_queries.check(DATA, os.path.join(work, "out"))
        for pr in problems[:5]:
            print(f"fraudbench: query_mix check: {pr}", file=sys.stderr)
        correct = correct and not problems

    got = out["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if v is None and not a.trace:
            sys.exit(f"fraudbench: {a.workload} did not report {m['name']}")
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
