#!/usr/bin/env python3
"""Self-check for the pipeline benchmark. Run from the root of a checkout:

    python3 perfbench/selfcheck.py [--runs]

Builds like run.py, then runs perfbench.SelfCheck: the generator is
deterministic per seed, and the output checks pass on the program's real
output and fail on deliberately wrong expectations. With --runs it also
runs every workload once in each trace mode; run.py fails any run whose
metrics or units differ from BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    classpath = run.build(root)
    work = os.path.join(root, run.BUILD_DIR, "work", f"selfcheck-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        rc = subprocess.run(run.java_cmd(classpath, tmp) +
                            ["perfbench.SelfCheck", "--work", work],
                            cwd=work, stdin=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = rc != 0
    if args.runs:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            workloads = [w["name"] for w in json.load(f)["workloads"]]
        for workload in workloads:
            for trace in ("0", "1"):
                proc = subprocess.run(
                    [sys.executable, os.path.join(run.BENCH_DIR, "run.py"),
                     "--workload", workload, "--seed", "1", "--seconds", "1",
                     "--trace", trace],
                    cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                ok = proc.returncode == 0 and json.loads(
                    proc.stdout.strip().splitlines()[-1])["correct"]
                print(f"{'ok  ' if ok else 'FAIL'} {workload} --trace {trace}: every "
                      "BENCHMARK.json metric emitted with its unit, outputs correct")
                failed |= not ok
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
