#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/test_bench.py

Runs every workload at the tiny size, twice traced and once untraced,
from the root of a checkout, and checks that:

  - every metric BENCHMARK.json names is printed, with its unit: the
    end-to-end ones untraced, the per-layer ones traced;
  - every run is correct and counts no failed operation;
  - the exact counts repeat between the two traced runs: Spark jobs,
    stages and tasks per span, the per-route query counts and the tuner
    choices;
  - in a directory that holds only BENCHMARK.json and the benchmark,
    the command exits non-zero without printing a result.

Takes about five minutes on four cores.
"""
import collections
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
SECONDS = "2"
# run details that must repeat exactly between two runs of one seed: the
# route counts and the tuner choices (the recall each tuner rung measured
# is not compared: the IVF centroids can differ between two builds of one
# base, which moves those recalls without moving the choices)
EXACT_DETAILS = ("routes", "queries_per_type", "nprobe_chosen", "ivf_ef_chosen",
                 "bands_label_ts_range", "nlist", "range_scale", "output_bin_bytes",
                 "checked_queries", "unrouted_statements")


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", SECONDS, "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace} failed:\n{p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    details = json.loads(next(l for l in lines if l.startswith("perfbench: details "))
                         .split(" ", 2)[2])
    spans = next((l.split(" ", 2)[2] for l in lines if l.startswith("perfbench: spans ")), None)
    return result, details, spans


def span_counts(path):
    """Span name -> the set of distinct (jobs, stages, tasks) it recorded."""
    out = collections.defaultdict(set)
    with open(path) as fh:
        for line in fh:
            row = json.loads(line)
            # the canary builds its pinned table on the first run in a checkout only
            if "name" in row and not row["name"].endswith(".machine.canary"):
                out[row["name"]].add((row["jobs"], row["stages"], row["tasks"]))
    return dict(out)


def check_result(spec_metrics, result, label):
    assert result["correct"] is True, f"{label}: not correct: {result}"
    assert result["failed"] == 0 and result["attempted"] >= 1, f"{label}: {result}"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    for m in spec_metrics:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{label}: {m['name']} not printed"
        assert got["unit"] == m["unit"], f"{label}: {m['name']} in {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{label}: {m['name']}"


def check_bare_directory():
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "contest_batch", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0, "a bare directory must not produce a result"
        assert '"metrics"' not in p.stdout, "a bare directory printed a result"
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in (x["name"] for x in spec["workloads"]):
        untraced, _, _ = run(w, 0)
        check_result(spec["end_to_end"], untraced, f"{w} untraced")
        first, d1, spans1 = run(w, 1)
        counts1 = span_counts(spans1)
        second, d2, spans2 = run(w, 1)
        counts2 = span_counts(spans2)
        check_result(spec["per_layer"], first, f"{w} traced 1")
        check_result(spec["per_layer"], second, f"{w} traced 2")
        assert counts1 == counts2, f"{w}: span counts differ:\n{counts1}\n{counts2}"
        for key in EXACT_DETAILS:
            assert d1.get(key) == d2.get(key), f"{w}: {key} differs: {d1.get(key)} vs {d2.get(key)}"
        for name in ("index.tune.nprobe_chosen", "trace.unattributed_jobs"):
            assert first["metrics"][name] == second["metrics"][name], f"{w}: {name} differs"
        print(f"ok {w}: {len(spec['end_to_end'])} end-to-end and {len(spec['per_layer'])} "
              f"per-layer metrics, {len(counts1)} span names with repeating counts")
    check_bare_directory()
    print("ok bare directory: non-zero exit, no result")


if __name__ == "__main__":
    main()
