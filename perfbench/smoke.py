#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [workload ...]

Runs every workload (or the ones named) at a tiny input size, untraced
and traced, and fails unless each run exits 0, passes its oracle on
every iteration, and prints exactly the metric names ``BENCHMARK.json``
declares, each with its unit, plus the record line with the host
descriptor and ``error_rate``.  Takes a few minutes: every run starts
its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", SCALE,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"oracle verdict {result['correct']}, failed {result['failed']}: {record['errors']}")
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"metrics {got} != declared {want}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            problems.append(f"{k} is not a number: {v['value']!r}")
    for key in ("nproc", "cpu_model", "SPARK_GRAFT_CPUS", "pyspark", "pyarrow"):
        if key not in record["host"]:
            problems.append(f"host descriptor lacks {key}")
    if record["error_rate"]["value"] != 0:
        problems.append(f"error_rate {record['error_rate']}")
    return problems


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or [w["name"] for w in spec["workloads"]]
    failures = 0
    for workload in names:
        for trace in (0, 1):
            problems = check(workload, trace, spec)
            status = "ok" if not problems else "FAIL"
            print(f"{workload} trace={trace}: {status}", flush=True)
            for p in problems:
                print(f"  {p}")
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
