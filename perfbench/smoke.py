#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [--corpus ~/testdata/sf0.001]

Runs every workload at sf0.001 with the smallest script, untraced and
traced, and asserts that every end-to-end and per-layer metric is printed
by name with its unit, that ops attempted / failed and the host flags are
present, that no op fails and that the traced run's top-level spans
cover the timed-phase wall within 5%. It also checks that a directory holding
only ``BENCHMARK.json`` and the benchmark's files makes the benchmark exit
non-zero without printing a result. Takes about four minutes on 4 cores.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import E2E_EXTRA, E2E_UNITS, LAYER_UNITS, WORKLOADS  # noqa: E402

EXTRA_BY_WORKLOAD = {
    "olap_headline": set(),
    "oltp_statements": set(E2E_EXTRA),
}


def run(workload: str, trace: int, corpus: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--corpus", corpus],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_result(result: dict, units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["attempted"] >= 1 and result["failed"] == 0, result
    assert result["correct"] is True
    assert set(result["metrics"]) == set(units), sorted(result["metrics"])
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)


def check_record(record: dict, workload: str) -> None:
    host = record["host"]
    for key in ("nproc", "loadavg_before", "loadavg_after", "steal_share", "flags"):
        assert key in host, host
    e2e = record["end_to_end"]
    assert set(e2e) == set(E2E_UNITS) | EXTRA_BY_WORKLOAD[workload], sorted(e2e)
    for name, m in e2e.items():
        assert m["unit"] == {**E2E_UNITS, **E2E_EXTRA}[name], (name, m)


def check_refuses_bare_directory() -> None:
    bare = Path(tempfile.mkdtemp(prefix="smoke-bare-", dir=ROOT / ".perfbench_run"))
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "oltp_statements",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        assert proc.returncode != 0, proc.stdout
        assert '"correct"' not in proc.stdout, proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", default=str(Path.home() / "testdata" / "sf0.001"))
    args = ap.parse_args()
    (ROOT / ".perfbench_run").mkdir(exist_ok=True)
    check_refuses_bare_directory()
    for workload in WORKLOADS:
        record, result = run(workload, 0, args.corpus)
        check_record(record, workload)
        check_result(result, E2E_UNITS)
        traced_record, traced = run(workload, 1, args.corpus)
        check_result(traced, LAYER_UNITS)
        # the top-level op spans must cover the timed-phase wall within 5%
        coverage = traced["metrics"]["trace.span_coverage"]["value"]
        assert 0.95 <= coverage <= 1.0, coverage
        spans = ROOT / traced_record["spans"]
        assert spans.stat().st_size > 0, spans
        spans.unlink()
        print(f"{workload}: ok ({result['attempted']} ops, "
              f"flags {record['host']['flags']})")
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
