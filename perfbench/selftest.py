"""Tiny-scale self-test of the benchmark itself. Run from the repository
root:

    python3 perfbench/selftest.py

It checks that
- every workload, untraced and traced, prints every metric BENCHMARK.json
  names, with its unit, and a clean gate on this commit;
- a deliberately corrupted query result is counted as a failed operation,
  so the correctness gate can fail;
- outside a checkout of the engine the benchmark exits non-zero without
  printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT = 300


def _run(cwd: str, *args: str) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--scale", "tiny", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT,
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is not None and set(result) != {"correct", "attempted", "failed", "metrics"}:
        result = None
    return proc.returncode, result, proc.stderr[-3000:]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems: list[str] = []

    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            label = f"{workload} trace={trace}"
            code, result, err = _run(ROOT, "--workload", workload, "--seed", "3",
                                     "--trace", str(trace))
            if code != 0 or result is None:
                problems.append(f"{label}: exit {code}, no result\n{err}")
                continue
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                problems.append(
                    f"{label}: metrics {sorted(got.items())} != {sorted(want[trace].items())}")
            elif not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{label}: gate not clean: {result}")
            else:
                print(f"ok  {label}: {len(got)} metrics, {result['attempted']} checked operations")

    code, result, err = _run(ROOT, "--workload", "fixture", "--seed", "3", "--trace", "0",
                             "--corrupt")
    if result is None or result["correct"] or result["failed"] < 1:
        problems.append(f"corrupted result not counted as an error: exit {code}, {result}\n{err}")
    else:
        print(f"ok  corrupted result counted: failed={result['failed']}")

    # a directory holding only BENCHMARK.json and the benchmark's own files
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "fixture",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=bare, capture_output=True, text=True, timeout=TIMEOUT)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        problems.append(f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}")
    else:
        print(f"ok  bare directory: exit {proc.returncode}, no result")

    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
