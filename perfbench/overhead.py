"""Tracing overhead: run one workload untraced and traced on the same
seed and compare the traced run's end-to-end values (``traced.*``)
with the untraced ones.

    python3 perfbench/overhead.py --workload dashboard --seed 1 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = _run(args, 0)
    traced = _run(args, 1)
    for name, m in plain.items():
        t = traced.get(f"traced.{name}")
        if t is not None:
            ratio = t["value"] / m["value"] if m["value"] else float("nan")
            print(f"{name}: untraced {m['value']:.4g} {m['unit']}, traced {t['value']:.4g}, ratio {ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
