#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median
and spread (interquartile range as a share of the median), the numbers
BENCHMARK.json's bounds are judged against; or compare two such batches.

    python3 perfbench/spread.py --workload daily_40k --seeds 1-10 [--trace 1] [--log FILE]
    python3 perfbench/spread.py --compare FIRST.jsonl SECOND.jsonl

Run from the root of a checkout. Each run's result line is appended to
FILE, by default .bench_build/spread/<workload>-trace<t>.jsonl.
`--compare` reads two such files, made with the same seeds at different
times, and prints each end-to-end metric's two medians, their spreads
and how much worse the second median is than the first, as a share of
the first: the check a batch of the same code must pass against its
bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def load_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def summary(values):
    """median and spread of one metric's values"""
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return med, ((q[2] - q[0]) / med if med else float("nan"))


def read_log(path):
    """metric name -> the non-null values in a result log"""
    values = {}
    with open(path) as f:
        for line in f:
            for name, m in json.loads(line)["result"]["metrics"].items():
                if m["value"] is not None:
                    values.setdefault(name, []).append(m["value"])
    return values


def compare(first, second):
    spec = load_spec()
    a, b = read_log(first), read_log(second)
    worst = 0.0
    print(f"{'metric':20s} {'median 1':>11s} {'median 2':>11s} {'spread 1':>8s} "
          f"{'spread 2':>8s} {'worse':>7s}  bound")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        if name not in a or name not in b:
            print(f"{name:20s} missing")
            continue
        (ma, sa), (mb, sb) = summary(a[name]), summary(b[name])
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        flag = "" if worse <= bound else "  OVER"
        print(f"{name:20s} {ma:11.4f} {mb:11.4f} {sa:8.4f} {sb:8.4f} {worse:7.4f}  "
              f"{bound}{flag}")
        if name != "setup_s":
            worst = max(worst, sb / bound, sa / bound)
    print(f"largest spread as a share of its bound (setup_s aside): {worst:.3f}")


def run_batch(args):
    spec = load_spec()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = args.log or os.path.join(".bench_build", "spread",
                                   f"{args.workload}-trace{args.trace}.jsonl")
    os.makedirs(os.path.dirname(os.path.abspath(log)), exist_ok=True)
    values = {}
    for seed in seeds_of(args.seeds):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            continue
        line = proc.stdout.strip().splitlines()[-1]
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "result": json.loads(line)}) + "\n")
        result = json.loads(line)
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}", file=sys.stderr)
        for name, m in result["metrics"].items():
            if m["value"] is not None:
                values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med, spread = summary(xs)
        bound = bounds.get(name)
        flag = "" if bound is None else ("  OK" if spread < bound / 3 else
                                         "  WIDE" if spread < bound else "  OVER")
        print(f"{name:28s} median {med:12.4f}  spread {spread:7.4f}"
              f"{'' if bound is None else f'  bound {bound}'}{flag}  n={len(xs)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
    elif args.workload:
        run_batch(args)
    else:
        ap.error("give --workload or --compare")


if __name__ == "__main__":
    main()
