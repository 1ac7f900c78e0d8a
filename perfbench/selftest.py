#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (about four minutes):

    python3 perfbench/selftest.py

For each workload it runs ``run.py`` twice on tiny tables:

- ``--trace 0``: exit 0, a correct run, and exactly the end-to-end metrics
  that BENCHMARK.json names, each with its unit and a value above 0;
- ``--trace 1 --wrong-expected``: every per-layer metric BENCHMARK.json
  names, with its unit, and ``correct`` false with failed > 0, because one
  expected value was corrupted — the output check must catch it.

It also runs ``run.py`` in a directory holding only BENCHMARK.json and
perfbench/, where it must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(cwd: Path, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_result(lines: list[str], spec: list[dict], want_correct: bool) -> list[str]:
    errors = []
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"result keys {sorted(result)}")
    if result["correct"] is not want_correct:
        errors.append(f"correct is {result['correct']}, expected {want_correct}")
    if want_correct != (result["failed"] == 0):
        errors.append(f"failed = {result['failed']}")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"metrics differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}")
    for name, unit in want.items():
        if not any(line.startswith(f"metric {name} = ") and f" {unit}" in line for line in lines):
            errors.append(f"metric {name} not printed with its unit")
    return errors


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors: list[str] = []
    for wl in (w["name"] for w in bench["workloads"]):
        common = ["--workload", wl, "--seed", "3", "--seconds", "1", "--sf", "0.001"]
        code, lines = run(ROOT, *common, "--trace", "0")
        errs = [f"exit {code}"] if code else check_result(lines, bench["end_to_end"], True)
        if not errs:
            values = json.loads(lines[-1])["metrics"]
            errs += [f"{k} is {v['value']}" for k, v in values.items() if not v["value"] > 0]
        errors += [f"{wl} --trace 0: {e}" for e in errs]
        code, lines = run(ROOT, *common, "--trace", "1", "--wrong-expected")
        errs = [f"exit {code}"] if code else check_result(lines, bench["per_layer"], False)
        errors += [f"{wl} --trace 1 --wrong-expected: {e}" for e in errs]
    bare = ROOT / ".perfbench_runs" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        code, lines = run(bare, "--workload", bench["workloads"][0]["name"],
                          "--seed", "1", "--seconds", "1")
        if code == 0 or any(line.startswith("{") for line in lines):
            errors.append("run without the package did not fail cleanly")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        if not any(bare.parent.iterdir()):
            bare.parent.rmdir()
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
