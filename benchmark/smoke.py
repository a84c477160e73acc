"""Smoke test of the benchmark itself: every workload at the tiny input
size, untraced and traced, with all output checks on; the printed result
matches ``BENCHMARK.json``; and a directory holding only the benchmark
(no engine) fails without printing a result.

    python3 benchmark/smoke.py [--workload NAME ...]

Takes several minutes (each run starts its own Spark session).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "train", "apply", "curate")


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "benchmark/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    if cwd == ROOT:
        cmd.append("--tiny")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_result(proc, names: set[str]) -> str:
    if proc.returncode != 0:
        return f"exit {proc.returncode}: {proc.stderr[-2000:]}"
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(res)}"
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        return f"checks failed: {res['failed']}/{res['attempted']}\n{proc.stderr[-2000:]}"
    if set(res["metrics"]) != names:
        return f"metrics differ from BENCHMARK.json: {sorted(set(res['metrics']) ^ names)}"
    return ""


def bare_directory() -> str:
    """Only BENCHMARK.json and the benchmark's files: must fail cleanly."""
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "benchmark"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = run(bare, "build", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}"
    return ""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    names = {0: {m["name"] for m in doc["end_to_end"]}, 1: {m["name"] for m in doc["per_layer"]}}
    failures = []
    why = bare_directory()
    print(f"bare directory: {why or 'ok'}", flush=True)
    failures += [why] if why else []
    for w in args.workload or WORKLOADS:
        for trace in (0, 1):
            why = check_result(run(ROOT, w, trace), names[trace])
            print(f"{w} trace={trace}: {why or 'ok'}", flush=True)
            failures += [why] if why else []
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
