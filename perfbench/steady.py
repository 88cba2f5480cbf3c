"""Steadiness check: run one workload under several seeds and report, per
metric, the median and the interquartile range as a share of the median.

    python3 perfbench/steady.py --workload dashboard --seeds 1-10 \
        [--seconds 1] [--trace 0] [--out perfbench/results/x.json]

Run from the root of a checkout. Runs are sequential; each is a fresh
``perfbench/run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quartile method."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", default="1")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            sys.exit(1)
        result = json.loads(lines[-1])
        result["seed"], result["wall_s"] = seed, wall
        runs.append(result)
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1),
                          "correct": result["correct"],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}),
              flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        summary[name] = {
            "median": statistics.median(values),
            "spread": spread(values) if len(values) >= 2 else None,
        }
    report = {
        "workload": args.workload,
        "seeds": args.seeds,
        "all_correct": all(r["correct"] for r in runs),
        "wall_s": [round(r["wall_s"], 1) for r in runs],
        "metrics": summary,
    }
    print(json.dumps(report, indent=1))
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump({**report, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
