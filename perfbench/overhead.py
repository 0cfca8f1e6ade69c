"""Tracing overhead: run one workload and seed untraced, then traced, and
print each end-to-end metric of both runs and their difference.

    python3 perfbench/overhead.py --workload graph_query --seed 7 --seconds 16

The traced run reports its end-to-end numbers in the ``end_to_end_traced``
field of the stamp line (the line before the result line).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def run(workload: str, seed: int, seconds: float, trace: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=RUN.parent.parent, capture_output=True, text=True, check=True, timeout=300,
    )
    return [json.loads(line) for line in out.stdout.strip().splitlines()[-2:]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    args = ap.parse_args()
    _, plain = run(args.workload, args.seed, args.seconds, 0)
    stamp, _ = run(args.workload, args.seed, args.seconds, 1)
    traced = stamp["end_to_end_traced"]
    print(f"{'metric':28s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
    for name, m in plain["metrics"].items():
        u, t = m["value"], traced[name]
        print(f"{name:28s} {u:12.4f} {t:12.4f} {(t - u) / u:+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
