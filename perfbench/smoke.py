"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json untraced and traced with --size tiny
and checks that the result line has exactly the contract's keys, that no
operation failed (error_frac = 0) and that every end-to-end value is
positive.  It also checks that the benchmark exits non-zero, printing no
result, in a directory holding only BENCHMARK.json and the benchmark's own
files.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(workload, trace) -> None:
    p = run(ROOT, workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    report = json.loads(lines[-2])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    if not trace:
        for name, m in res["metrics"].items():
            assert m["value"] > 0, (workload, name, m)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    assert report["report"]["error_frac"] == 0, report
    print(f"ok  {workload:10s} trace={trace} attempted={res['attempted']} "
          f"{json.dumps(report['report'])}")


def check_bare_dir() -> None:
    """Only BENCHMARK.json and perfbench/: exit non-zero, print no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, "serve", 0)
        assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
        print(f"ok  bare checkout exits {p.returncode}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_bare_dir()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(w["name"], trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
