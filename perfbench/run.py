#!/usr/bin/env python3
"""The repository's benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload contest_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse that build
while the sources are unchanged. Each run starts its own `local[nproc]`
JVM with fresh store roots under the build directory, and removes them
when it ends.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# A fixed heap limit: the cache and build budgets the engine derives from
# Runtime.maxMemory() (ServingCache takes heap/8) are the same in every
# run. The heap is neither pinned nor pre-touched, so the resident set
# follows what the program touches. The parallel collector grows the old
# generation as live data needs it; G1 grows the heap from the measured
# GC time share, which made VmHWM of one workload swing between about
# 1.1 and 1.7 GB from run to run on a loaded 4-vCPU host.
HEAP = "1536m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, f) for f in ("build.sbt", ".sbtopts")]
    files.append(os.path.join(HERE, "project", "build.properties"))
    for top in tops:
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compiles the engine with the harness; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "perfbench.stamp")
    cp_file = os.path.join(build_dir, "perfbench.classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set: the build compiles against $SPARK_HOME/jars")
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build exceeded {BUILD_LIMIT_S} s (log: {log})")
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed with code {proc.returncode} (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def run_jvm(classpath, args, build_dir, run_dir, spans):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["--add-modules", "jdk.incubator.vector", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd = [java, *opts, "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--size", args.size, "--spans", spans]
    log = os.path.join(build_dir, "last-run.log")
    with open(log, "w") as err:
        # Spark's temporary files go under the run directory, not a host-wide one
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s (log: {log})")
    found = [l[len("BENCH_RESULT "):] for l in stdout.splitlines() if l.startswith("BENCH_RESULT ")]
    if proc.returncode != 0 or not found:
        fail(f"run failed with code {proc.returncode} (log: {log})")
    return json.loads(found[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the benchmark's own test")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala: run from a full checkout")

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    traces = os.path.join(build_dir, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
    started = time.monotonic()
    try:
        res = run_jvm(classpath, args, build_dir, run_dir, spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = res["metrics"]
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or not in {m['unit']}: {got}")
    res["details"]["jvm_wall_s"] = round(time.monotonic() - started, 1)
    print("perfbench: details " + json.dumps(res["details"], sort_keys=True))
    if args.trace:
        print(f"perfbench: spans {spans}")
    print(json.dumps({
        "correct": bool(res["correct"]) and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: metrics[m["name"]] for m in wanted},
    }))


if __name__ == "__main__":
    main()
