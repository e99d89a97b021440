#!/usr/bin/env python3
"""Smoke self-test of the benchmark (about five minutes on 4 CPUs).

Run from the root of a checkout::

    python3 perfbench/selftest/smoke.py

For every workload it makes one small run (scale 0.001) untraced and
one traced. It checks that each prints a well-formed result with every
metric BENCHMARK.json names, zero failed queries and ``fail_ratio`` 0
in the run record. It also checks that the benchmark refuses to run,
without printing a result, from a directory holding only
BENCHMARK.json and the benchmark's own files.
Exits 1 on any failure.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parents[2]
SPEC = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], *args],
        cwd=cwd,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=600,
    )


def check_run(workload: str, trace: int) -> list[str]:
    done = run(
        CHECKOUT,
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.001",
    )
    where = f"{workload} trace={trace}"
    if done.returncode != 0:
        return [f"{where}: exit code {done.returncode}"]
    lines = done.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["record"]
    problems = []
    if set(result) != RESULT_KEYS:
        problems.append(f"{where}: result keys {sorted(result)}")
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in wanted]
    if list(result["metrics"]) != names:
        problems.append(f"{where}: metrics {list(result['metrics'])} != {names}")
    for m in wanted:
        got = result["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{where}: bad metric {m['name']}: {got}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"{where}: failures {record['failures']}")
    if record["fail_ratio"] != 0:
        problems.append(f"{where}: fail_ratio {record['fail_ratio']}")
    print(f"{where}: {len(problems)} problem(s)", flush=True)
    return problems


def check_bare_directory() -> list[str]:
    """Without the package the benchmark must fail and print no result."""
    bare = CHECKOUT / ".bench_build" / "perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(CHECKOUT / "BENCHMARK.json", bare)
        for path in SPEC["paths"]:
            shutil.copytree(
                CHECKOUT / path,
                bare / path,
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        done = run(bare, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                   "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    problems = []
    if done.returncode == 0:
        problems.append("bare directory: exit code 0")
    if done.stdout.strip():
        problems.append(f"bare directory: printed {done.stdout.strip()[:200]!r}")
    print(f"bare directory: {len(problems)} problem(s)", flush=True)
    return problems


def main() -> int:
    problems = check_bare_directory()
    for workload in (w["name"] for w in SPEC["workloads"]):
        for trace in (0, 1):
            problems += check_run(workload, trace)
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
