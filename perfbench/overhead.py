"""Tracing overhead of one workload: the same seed run untraced, then
traced, and every end-to-end metric reported as traced minus untraced.
The traced run carries its own end-to-end numbers as ``trace.<name>``.

    python3 perfbench/overhead.py --workload query_mix [--seed N] [--seconds S]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _metrics(args, trace: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=300,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"trace={trace} run failed its checks")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    args = p.parse_args()
    plain = _metrics(args, 0)
    traced = _metrics(args, 1)
    report = {
        name: {"untraced": value, "traced": traced[f"trace.{name}"],
               "overhead": traced[f"trace.{name}"] - value}
        for name, value in plain.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
