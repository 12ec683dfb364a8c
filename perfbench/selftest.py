#!/usr/bin/env python3
"""Toy-scale self-test of the benchmark harness.

    python3 perfbench/selftest.py [workload ...]

Run from the repository root. For each workload (default: all) it runs
``run.py --toy`` once untraced and twice traced with the same seed,
and checks that:

* the last output line has exactly the keys correct/attempted/failed/
  metrics, with every answer correct;
* the untraced run prints every end-to-end metric of BENCHMARK.json and
  the traced runs every per-layer metric, each with its unit;
* the counts of the traced run (jobs, stages, tasks, build jobs,
  generated rows) repeat exactly between the two traced runs.

It also checks that the harness fails, without printing a result, in
a directory holding only BENCHMARK.json and the benchmark's files.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 7
EXACT_COUNTS = (
    "queries.build_jobs", "jvm.jobs", "jvm.stages", "jvm.tasks",
    "datagen.rows", "catalog.open_jobs",
)


def run(workload: str, trace: int, cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_result(lines: list[str], expected: list[dict], label: str) -> dict:
    result = json.loads(lines[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    metrics = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in expected}
    got = {k: v.get("unit") for k, v in metrics.items()}
    if got != want:
        errors.append(f"metrics/units differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, "
                      f"units {[k for k in want if k in got and got[k] != want[k]]}")
    if not all(isinstance(v.get("value"), (int, float)) for v in metrics.values()):
        errors.append("a metric value is not a number")
    if errors:
        raise AssertionError(f"{label}: " + "; ".join(errors))
    return {k: v["value"] for k, v in metrics.items()}


def check_fails_without_engine() -> None:
    """The benchmark's files alone must not produce a result."""
    bare = HERE / ".state" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns(".state", "__pycache__"))
    try:
        code, lines = run("q4112_ref", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or any(line.startswith("{") for line in lines):
        raise AssertionError(f"bare directory: exit {code}, output {lines[-1:]}")


def main(argv: list[str]) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = argv or [w["name"] for w in spec["workloads"]]
    check_fails_without_engine()
    print("ok: fails without the engine")
    for w in workloads:
        code, lines = run(w, 0)
        if code:
            raise AssertionError(f"{w} untraced: exit {code}")
        check_result(lines, spec["end_to_end"], f"{w} untraced")
        traced = []
        for _ in range(2):
            code, lines = run(w, 1)
            if code:
                raise AssertionError(f"{w} traced: exit {code}")
            traced.append(check_result(lines, spec["per_layer"], f"{w} traced"))
        differ = {k: (traced[0][k], traced[1][k]) for k in EXACT_COUNTS if traced[0][k] != traced[1][k]}
        if differ:
            raise AssertionError(f"{w}: counts differ between traced runs: {differ}")
        print(f"ok: {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
