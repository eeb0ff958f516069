"""Smoke test of the benchmark itself, at the smoke fixture size (sf0.001).

For each workload: a traced run must pass every output check and print
every per-layer metric of BENCHMARK.json with its unit; an untraced run
with one expected result tampered must print every end-to-end metric with
its unit and count the tampered operation as failed. Last, the benchmark
must refuse to run from a directory that holds only BENCHMARK.json and
the benchmark's own files.

    python3 perfbench/smoke.py          # about five minutes on 4 cores
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def _run(cwd: str, script: str, *args: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, script, *args], cwd=cwd, capture_output=True, text=True,
        timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 and cwd == ROOT:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, result


def _units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main() -> int:
    with open(SPEC) as f:
        spec = json.load(f)
    run = os.path.join(HERE, "run.py")
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        base = ["--workload", name, "--seed", "1", "--seconds", "1", "--size", "smoke"]
        rc, traced = _run(ROOT, run, *base, "--trace", "1")
        want = {m["name"]: m["unit"] for m in spec["per_layer"]}
        if rc != 0 or traced is None:
            problems.append(f"{name}: traced run exited {rc}")
        elif not traced["correct"] or traced["failed"] or _units(traced) != want:
            problems.append(f"{name}: traced run correct={traced['correct']}"
                            f" failed={traced['failed']} units match={_units(traced) == want}")
        rc, tampered = _run(ROOT, run, *base, "--trace", "0", "--tamper")
        want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if rc != 0 or tampered is None:
            problems.append(f"{name}: tampered run exited {rc}")
        elif tampered["correct"] or tampered["failed"] < 1 or _units(tampered) != want:
            problems.append(f"{name}: tampered run correct={tampered['correct']}"
                            f" failed={tampered['failed']} units match={_units(tampered) == want}")
        print(f"smoke: {name} done", file=sys.stderr)

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(SPEC, bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        first = spec["workloads"][0]["name"]
        rc, result = _run(bare, os.path.join(bare, "perfbench", "run.py"),
                          "--workload", first, "--seed", "1", "--seconds", "1", "--trace", "0")
        if rc == 0 or result is not None:
            problems.append(f"bare directory: exit {rc}, result {result}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(f"smoke: FAIL {p}")
    print("smoke: PASS" if not problems else "smoke: FAIL")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
