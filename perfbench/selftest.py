"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json, runs the benchmark with tracing
off and on and asserts that the last stdout line is the result object,
that it carries every metric BENCHMARK.json names with its unit, that
every metric and ``failed_frac`` is printed by name, and that
``failed_frac`` is 0. Then checks that the benchmark fails, without
printing a result, in a directory that holds only the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int) -> None:
    proc = run(ROOT, workload, trace)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stdout}\n{proc.stderr[-3000:]}"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == wanted, f"metrics differ: {set(got) ^ set(wanted)} / units {got}"
    printed = {line.split(" = ")[0] for line in lines if " = " in line}
    missing = set(wanted) - printed
    assert not missing, f"not printed by name: {missing}"
    assert "failed_frac = 0.0000" in lines, "failed_frac is not 0"
    print(f"ok   {workload} trace={trace}: {len(got)} metrics, {result['attempted']} ops")


def check_without_engine() -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = run(bare, "ingest", 0)
        assert proc.returncode != 0, "benchmark succeeded without the engine"
        assert '"metrics"' not in proc.stdout, "printed a result without the engine"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok   fails without the engine package")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    check_without_engine()
    return 0


if __name__ == "__main__":
    sys.exit(main())
