"""Self-test of the benchmark's checks.

Runs every workload twice for one short run each: once as is, where the
result must be correct with no failures, and once with ``--plant-error``
(one result row altered before its check), where the result must report
at least one failure. Exits non-zero if either expectation is missed.

    python3 perfbench/selftest.py [--out perfbench/results/selftest.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dashboard", "refresh", "batch_10x")


def _run(workload: str, plant: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd + (["--plant-error"] if plant else []),
                          capture_output=True, text=True)
    if proc.returncode != 0:
        return {"exit": proc.returncode, "stderr": proc.stderr[-1000:]}
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    args = ap.parse_args()
    report, ok = {}, True
    for workload in WORKLOADS:
        clean, planted = _run(workload, False), _run(workload, True)
        passed = (
            clean.get("correct") is True and clean.get("failed") == 0
            and planted.get("correct") is False and planted.get("failed", 0) >= 1
        )
        ok &= passed
        report[workload] = {
            "passed": passed,
            "clean": {k: clean.get(k) for k in ("correct", "attempted", "failed", "exit")},
            "planted": {k: planted.get(k) for k in ("correct", "attempted", "failed", "exit")},
        }
        print(workload, json.dumps(report[workload]), flush=True)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
