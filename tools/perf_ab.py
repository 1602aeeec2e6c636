"""Interleaved A/B of the served-path benchmark between two checkouts.

Usage:
  python tools/perf_ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N [--seconds S]

Runs `perfbench/run.py --workload W --seed i --seconds S --trace 0` in
each checkout for i = 1..N, one pair per seed. Pair i runs the parent
first when i is odd and the change first when i is even, so drift on a
shared host falls on both sides alike. Each run's last stdout line is
its JSON result. Prints one JSON line:

  {"workload", "pairs", "seconds",
   "median": {"parent": {metric: value}, "change": {metric: value}},
   "per_pair": [{"seed", "first", "parent": {...}, "change": {...},
                 "parent_correct", "change_correct"}]}

A run that prints no result line counts as missing and is left out of
the medians; its stderr tail goes to this script's stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    cmd = [
        sys.executable,
        "perfbench/run.py",
        "--workload",
        workload,
        "--seed",
        str(seed),
        "--seconds",
        str(seconds),
        "--trace",
        "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"{checkout} seed {seed}: no result (exit {proc.returncode})", file=sys.stderr)
        print(proc.stderr[-2000:], file=sys.stderr)
        return None


def values(result: dict | None) -> dict:
    if result is None:
        return {}
    return {name: m["value"] for name, m in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent_dir), "change": os.path.abspath(args.change_dir)}

    per_pair = []
    for seed in range(1, args.pairs + 1):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            result = run_once(sides[side], args.workload, seed, args.seconds)
            pair[side] = values(result)
            pair[f"{side}_correct"] = bool(result and result["correct"])
        per_pair.append(pair)

    median = {}
    for side in sides:
        names = sorted({n for pair in per_pair for n in pair[side]})
        median[side] = {
            n: statistics.median([pair[side][n] for pair in per_pair if n in pair[side]]) for n in names
        }
    print(
        json.dumps(
            {
                "workload": args.workload,
                "pairs": args.pairs,
                "seconds": args.seconds,
                "median": median,
                "per_pair": per_pair,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
