#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs a workload once per
seed (untraced) and prints, per metric, the median of the runs and the
distance between the first and third quartile as a share of that
median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload <name> [--seeds 1-10]

Run from the root of a checkout. Each run's wall time is printed too,
so the budget of a full set of runs can be read off.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    args = ap.parse_args()
    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(lo, hi + 1):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, str(CHECKOUT / "perfbench" / "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=CHECKOUT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.time() - t0:.1f} s wall, correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{m['name']}: median {med:.4g} {m['unit']}, spread {(q3 - q1) / med:.3f}"
              f" (bound {m['bound']}, a third of it {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
