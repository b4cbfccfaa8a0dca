#!/usr/bin/env python3
"""Tracing overhead: run a workload plain and traced on the same seeds and
print, per seed and as medians, traced minus plain ``wall_s`` and
``op_p50_s``.

    python3 perfbench/overhead.py --workload build --seeds 1 2 3

Run from the repository root.  Runs alternate plain / traced so drift in
the machine's load hits both sides alike.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.strip().splitlines()
    return json.loads(out[-2])["record"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=float, default=8)
    args = p.parse_args()
    rows = []
    for seed in args.seeds:
        plain_rec = run_once(args.workload, seed, args.seconds, 0)
        traced_rec = run_once(args.workload, seed, args.seconds, 1)
        plain, traced = plain_rec["metrics"], traced_rec["per_layer"]
        row = {
            "seed": seed,
            "plain_wall_s": plain["wall_s"]["value"],
            "traced_wall_s": traced["trace.wall_s"]["value"],
            "steal_share": [plain_rec["cpu_steal_share"], traced_rec["cpu_steal_share"]],
            "wall_s": traced["trace.wall_s"]["value"] - plain["wall_s"]["value"],
            "op_p50_s": traced["trace.op_p50_s"]["value"] - plain["op_p50_s"]["value"],
            "wall_share": traced["trace.wall_s"]["value"] / plain["wall_s"]["value"] - 1,
        }
        rows.append(row)
        print(json.dumps(row), flush=True)
    print(json.dumps({
        "workload": args.workload,
        "runs": len(rows),
        "median_wall_s_overhead": statistics.median(r["wall_s"] for r in rows),
        "median_op_p50_s_overhead": statistics.median(r["op_p50_s"] for r in rows),
        "median_wall_share": statistics.median(r["wall_share"] for r in rows),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
