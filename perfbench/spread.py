"""Run-to-run spread of the end-to-end metrics, against BENCHMARK.json bounds.

Usage (from the repository root)::

    python3 perfbench/spread.py --runs 10 [--workload NAME ...] [--first-seed 1]

Runs ``perfbench/run.py`` once per seed (one run at a time), then prints
per workload and metric the median and the interquartile range as a
share of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound. Exits non-zero if a run fails or a spread (other than
``setup_s``) exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    bad = False
    for w in workloads:
        values: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            print(f"{w} seed={seed} rc={p.returncode} {last}", flush=True)
            if p.returncode != 0 or not last:
                bad = True
                continue
            result = json.loads(last)
            bad |= not result["correct"]
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            s = spread(vs)
            over = k != "setup_s" and s > bounds[k]
            bad |= over
            print(f"  {w:<22} {k:<16} median {statistics.median(vs):12.6g}  "
                  f"spread {s:7.3%}  bound {bounds[k]:.0%}{'  OVER' if over else ''}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
