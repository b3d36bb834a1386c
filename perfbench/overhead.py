"""Tracing overhead: per workload, the traced median minus the untraced
median of every end-to-end metric, over the same seeds.

    python3 perfbench/overhead.py --runs 3 --seconds 10

Runs ``run.py`` ``--runs`` times with ``--trace 0`` and as many times with
``--trace 1``, alternating which goes first, and prints one JSON object
per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    details, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    if trace:
        return details["details"]["end_to_end_traced"]
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default="serve,opbank")
    args = ap.parse_args()
    for workload in args.workloads.split(","):
        sides: dict[int, list[dict]] = {0: [], 1: []}
        for seed in range(1, args.runs + 1):
            for trace in (0, 1) if seed % 2 else (1, 0):
                sides[trace].append(_once(workload, seed, args.seconds, trace))
        report = {}
        for metric in sides[0][0]:
            plain = statistics.median(r[metric] for r in sides[0])
            traced = statistics.median(r[metric] for r in sides[1])
            report[metric] = {"untraced": plain, "traced": traced, "overhead": traced - plain}
        print(json.dumps({"workload": workload, "runs": args.runs, "metrics": report}), flush=True)


if __name__ == "__main__":
    main()
