#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting.

    python3 perfbench/selftest.py

Runs the serve workload with one planted failing operation: a change feed
up to a version that was never committed, which the engine refuses. The
run must report it as one failed operation (correct=false, failed=1,
error_rate = 1/attempted) and leave its time out of the latency figures:
the count of timed reads must be attempted - 1.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "serve", "--seed", "7",
           "--seconds", "3", "--trace", "0", "--plant-failure", "3"]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, f"run failed ({p.returncode}): {p.stderr[-2000:]}"
    result = json.loads(lines[-1])
    metrics = {l.split()[1]: float(l.split()[2]) for l in lines if l.startswith("metric ")}
    failed_lines = [l for l in lines if l.startswith("failed ")]
    checks = {
        "correct is false": result["correct"] is False,
        "exactly one failed operation": result["failed"] == 1 and len(failed_lines) == 1,
        "the failure is the refused feed": "no snapshot" in "".join(failed_lines),
        "error_rate is 1/attempted": abs(metrics["error_rate"] - 1 / result["attempted"]) < 1e-4,
        "timed reads exclude it": metrics["reads"] == result["attempted"] - 1,
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    print("\n".join(failed_lines))
    sys.exit(0 if all(checks.values()) else 1)


if __name__ == "__main__":
    main()
