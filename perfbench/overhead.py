#!/usr/bin/env python3
"""Tracing overhead: run one workload and seed untraced, then traced,
and print each named metric's traced value minus its untraced one.

    python3 perfbench/overhead.py --workload stream --seed 1 --seconds 12

Both runs print the workload's named metrics (its wall-clock latencies
and throughputs and the BENCHMARK.json end-to-end metrics) on their
next-to-last line; the two runs are separate processes on the same
inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def result(workload: str, seed: int, seconds: float, trace: int) -> dict[str, dict]:
    """{metric: {"value", "unit"}}: the workload's named metrics."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr)
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-2])["named"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    plain = result(a.workload, a.seed, a.seconds, 0)
    traced = result(a.workload, a.seed, a.seconds, 1)
    report = {}
    for name, m in plain.items():
        t = traced.get(name)
        if t is not None:
            report[name] = {
                "untraced": m["value"],
                "traced": t["value"],
                "overhead": t["value"] - m["value"],
                "unit": m["unit"],
            }
    print(json.dumps({"workload": a.workload, "seed": a.seed, "overhead": report}))


if __name__ == "__main__":
    main()
