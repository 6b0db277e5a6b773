#!/usr/bin/env python3
"""Steadiness check: run one workload with ten seeds and report, per
end-to-end metric, the median, the quartiles and the quartile spread as a
share of the median (the rule BENCHMARK.json's bounds are judged by).

    python3 perfbench/steady.py --workload oltp_statements [--first-seed 1]

Runs are sequential, one process each, at BENCHMARK.json's
``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
RUNS = 10
RUN_SECONDS = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls, steal, flagged, failed = [], [], 0, 0
    for seed in range(args.first_seed, args.first_seed + RUNS):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(RUN_SECONDS), "--trace", "0"],
            capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-1500:]}")
            return 1
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        failed += result["failed"]
        flagged += bool(record["host"]["flags"])
        steal.append(record["host"]["steal_share"])
        for name, m in record["end_to_end"].items():
            if m["value"] is not None:
                values.setdefault(name, []).append(m["value"])

    print(f"{args.workload}: {RUNS} runs, wall per run "
          f"{statistics.median(walls):.1f} s (max {max(walls):.1f}), "
          f"failed ops {failed}, host-flagged runs {flagged}, "
          f"steal share {min(steal):.3f}-{max(steal):.3f}")
    print(f"{'metric':22} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:22} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{(q3 - q1) / med:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
