#!/usr/bin/env python3
"""Pipeline benchmark runner.

Run from the root of a checkout:

    python3 perfbench/run.py --workload daily_40k --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source (sbt, offline) the
first time, or when any source changed, then runs one workload in a
fresh JVM. The JVM prints progress to stderr and one result JSON line;
this script checks that the line carries exactly the metrics
BENCHMARK.json names for the trace mode, each with its unit, and
prints it as the last line of stdout. A failed build or run exits
non-zero without a result line. An operation that threw or failed its
output check makes the result `"correct": false`; it is left out of the
timings, and a timing with no sample left is null.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads from the checkout, in a stable order."""
    out = [os.path.join(root, "build.sbt"), os.path.join(root, BENCH_DIR, "build.sbt")]
    for top in ("project", "src/main", f"{BENCH_DIR}/project", f"{BENCH_DIR}/src"):
        base = os.path.join(root, top)
        for d, dirs, files in os.walk(base):
            # sbt's own output and meta-builds live in these
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                             and not x.startswith("."))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def source_stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile program + benchmark with sbt; return the runtime classpath."""
    build_dir = os.path.join(root, BUILD_DIR)
    os.makedirs(build_dir, exist_ok=True)
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("[perfbench] building program and benchmark with sbt", file=sys.stderr)
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, BENCH_DIR), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    print(f"[perfbench] built in {time.time() - t:.1f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def java_cmd(classpath, tmp):
    """The JVM command line up to the main class: the flags Spark needs on
    JDK 17 outside spark-submit, with temp files kept under `tmp`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    # the throughput collector suits a batch driver, and its heap sizing
    # keeps peak RSS steadier from run to run than G1's
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def expected_metrics(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    group = spec["per_layer"] if trace else spec["end_to_end"]
    return {m["name"]: m["unit"] for m in group}, [w["name"] for w in spec["workloads"]]


def validate(result, expected):
    for key in ("correct", "attempted", "failed", "metrics"):
        if key not in result:
            return f"result lacks '{key}'"
    got = {name: m.get("unit") for name, m in result["metrics"].items()}
    if got != expected:
        missing = sorted(set(expected) - set(got))
        extra = sorted(set(got) - set(expected))
        wrong = sorted(n for n in set(got) & set(expected) if got[n] != expected[n])
        return f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, wrong unit {wrong}"
    for name, m in result["metrics"].items():
        value = m.get("value")
        # a metric whose operations all failed is null; that is only
        # possible in a result that says it is not correct
        if value is None and result["correct"] is False:
            continue
        if not isinstance(value, (int, float)) or isinstance(value, bool):
            return f"metric {name} has no numeric value"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", os.path.join(BENCH_DIR, "build.sbt"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    expected, workloads = expected_metrics(root, args.trace == 1)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; BENCHMARK.json names {workloads}")

    classpath = build(root)

    build_dir = os.path.join(root, BUILD_DIR)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    trace_out = os.path.join(build_dir, "traces", f"{tag}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(classpath, tmp) + [
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-out", trace_out]
    started = time.time()
    try:
        proc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                              timeout=170)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"[perfbench] benchmark JVM ran {time.time() - started:.1f} s", file=sys.stderr)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not JSON: {lines[-1][:200]}")
    problem = validate(result, expected)
    if problem:
        fail(problem)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
