#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Runs every workload twice for a short time: once as is, where every
iteration must pass its check, and once with each iteration's output
damaged before it is checked (`--corrupt 1`), where every iteration must
be counted as failed. Under `--corrupt` the benchmark counts an iteration
as failed only when the check of every part of the workload reported an
error, so a part whose check catches nothing fails the self-test even when
another part's check catches its own damage. Usage, from the repository
root:

    python3 e2ebench/selftest.py [workload ...]
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["copy_resume", "validate_export"]


def run(workload, corrupt):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0", "--corrupt", corrupt],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{workload} corrupt={corrupt}: exit {p.returncode}")
    return json.loads(lines[-1])


def main():
    failures = []
    for w in sys.argv[1:] or WORKLOADS:
        clean = run(w, "0")
        if not (clean["correct"] and clean["failed"] == 0):
            failures.append(f"{w}: a clean run failed its checks: {clean}")
        bad = run(w, "1")
        if bad["correct"] or bad["failed"] != bad["attempted"]:
            failures.append(f"{w}: corrupted output was not counted as an error: {bad}")
        print(f"{w}: clean {clean['failed']}/{clean['attempted']} failed, "
              f"corrupted {bad['failed']}/{bad['attempted']} failed")
    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
