"""Fast smoke run of the benchmark at sf=0.001 with a minimal run length.

    python3 perfbench/smoke.py

For every workload in ``BENCHMARK.json`` (plus ``corpus_cold``) it runs
``run.py`` untraced and traced, and checks that the last line is the
result object, that every declared metric is emitted with its unit, that
nothing failed, and that every per-layer metric is exercised by at least
one workload. It also checks that ``run.py`` exits non-zero without a
result when the program is absent. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _check(spec: dict, workload: str, trace: int, exercised: set[str]) -> None:
    proc = _run(ROOT, workload, trace)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    *_, detail_line, result_line = proc.stdout.strip().splitlines()
    result = json.loads(result_line)
    detail = json.loads(detail_line)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        sys.exit(f"{workload} trace={trace}: failures {detail['failures']}")
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        sys.exit(f"{workload} trace={trace}: metrics/units differ from BENCHMARK.json")
    for name, m in result["metrics"].items():
        if not isinstance(m["value"], (int, float)):
            sys.exit(f"{workload}: {name} is not a number")
        if not trace and m["value"] <= 0:
            sys.exit(f"{workload}: end-to-end metric {name} is {m['value']}")
    if trace:
        exercised.update(set(declared) - set(detail["layers_not_exercised"]))
    print(f"ok {workload} trace={trace}: {len(got)} metrics, "
          f"{result['attempted']} attempted, failed_ratio 0")


def _check_without_program(spec: dict) -> None:
    bare = os.path.join(ROOT, ".bench_build", "perfbench-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        sys.exit("run.py did not fail cleanly without the program")
    print("ok: fails without the program")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    _check_without_program(spec)
    exercised: set[str] = set()
    for workload in [w["name"] for w in spec["workloads"]] + ["corpus_cold"]:
        for trace in (0, 1):
            _check(spec, workload, trace, exercised)
    missing = {m["name"] for m in spec["per_layer"]} - exercised
    if missing:
        sys.exit(f"per-layer metrics no workload exercises: {sorted(missing)}")
    print("smoke ok")


if __name__ == "__main__":
    main()
