#!/usr/bin/env python3
"""Runs the benchmark once per seed and summarizes the spread.

    python3 perfbench/spread.py --workload web_rule --seconds 20 --seeds 1 2 3 ... [--trace 1]

Run from the repository root. Each run's host-context line and result line
go to stdout as one JSON object per run; the summary at the end gives, per
metric, the median and the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    values = {}
    failures = 0
    for seed in a.seeds:
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            failures += 1
            print(json.dumps({"seed": seed, "exit": p.returncode, "stderr": p.stderr[-2000:]}), flush=True)
            continue
        host, result = json.loads(lines[-2]), json.loads(lines[-1])
        print(json.dumps({"elapsed_s": round(time.monotonic() - t0, 1), **host, **result}), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        m = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [m, m, m]
        spread = (q[2] - q[0]) / m if m else 0.0
        print(f"# {k}: n={len(vs)} median={m:.6g} q1={q[0]:.6g} q3={q[2]:.6g} spread={spread:.4f}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
