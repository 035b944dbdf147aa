#!/usr/bin/env python3
"""Paired parent/change benchmark runs for a performance claim.

    python3 tools/bench_pairs.py --parent <ref> --workload <w> \
        [--pairs 10] [--seed0 <n>]

Run from the root of a checkout. The parent commit is checked out into
a git worktree under .bench_build/, and `python3 perfbench/run.py` runs
in both checkouts: pair i uses seed seed0 + i on both sides, the side
that goes first alternates from pair to pair, and the runs of a pair
are back to back. Every run is untraced and lasts BENCHMARK.json's
run_seconds. The change side is the working tree as it stands.

It prints every pair's op_p50_ms, both sides' median and quartiles,
the number of pairs the change won (a tie counts for neither side), and whether the
claim rule holds: the change wins at least nine tenths of the pairs,
and its median beats the parent's by more than the distance between
the parent's quartiles. For every end-to-end metric it prints both
medians, the change's relative move next to the metric's bound, and
each side's spread (interquartile range over median); a metric whose
spread on either side exceeds its bound is reported as unresolved,
since the runs cannot tell a move of that size from noise, unless
every run of the change reads better than every run of the parent. Metric direction, bounds and the run length come from
BENCHMARK.json. This script only calls perfbench; it changes nothing
under perfbench/.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
CLAIM = "op_p50_ms"


def quartiles(values):
    """(q1, median, q3), the method perfbench/spread.py reports."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values):
    """Interquartile range over median: the run-to-run noise."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


def resolution(parent, change, bound, lower_is_better):
    """'resolved' when both sides spread within the bound, else
    'better in every run' or 'unresolved'."""
    if max(spread(parent), spread(change)) <= bound:
        return "resolved"
    if lower_is_better:
        every = max(change) < min(parent)
    else:
        every = min(change) > max(parent)
    return "better in every run" if every else "unresolved"


def wins(parent, change, lower_is_better):
    """Pairs the change won; a tie counts for neither side."""
    better = (lambda c, p: c < p) if lower_is_better else (lambda c, p: c > p)
    return sum(1 for p, c in zip(parent, change) if better(c, p))


def verdict(parent, change, lower_is_better):
    """(wins, needed, gap, parent_iqr, holds) for paired runs."""
    n = len(parent)
    won = wins(parent, change, lower_is_better)
    needed = math.ceil(0.9 * n)
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    gap = (pmed - cmed) if lower_is_better else (cmed - pmed)
    iqr = pq3 - pq1
    return won, needed, gap, iqr, (won >= needed and gap > iqr)


def run_side(checkout, workload, seed, seconds):
    """Every metric of one untraced perfbench run, by name."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{checkout} seed {seed} failed:\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"{checkout} seed {seed}: correct={res['correct']} "
                 f"failed={res['failed']}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git ref of the parent")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    if args.pairs < 2:
        sys.exit("--pairs must be at least 2")
    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    lower = metrics[CLAIM]["better"] == "lower"
    seconds = spec["run_seconds"]

    sha = subprocess.run(["git", "rev-parse", args.parent], cwd=CHECKOUT,
                         check=True, capture_output=True, text=True).stdout.strip()
    tree = CHECKOUT / ".bench_build" / f"parent-{sha[:12]}"
    tree.parent.mkdir(exist_ok=True)
    subprocess.run(["git", "worktree", "add", "--detach", "--force", str(tree), sha],
                   cwd=CHECKOUT, check=True, capture_output=True)
    runs = {"parent": [], "change": []}
    try:
        for i in range(args.pairs):
            seed = args.seed0 + i
            sides = [("parent", tree), ("change", CHECKOUT)]
            if i % 2:
                sides.reverse()
            for name, path in sides:
                runs[name].append(run_side(path, args.workload, seed,
                                           seconds))
            print(f"pair {i + 1} seed {seed} ({sides[0][0]} first): "
                  f"parent {runs['parent'][-1][CLAIM]:.4g}  "
                  f"change {runs['change'][-1][CLAIM]:.4g}", flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", str(tree)],
                       cwd=CHECKOUT, capture_output=True)
    parent = [r[CLAIM] for r in runs["parent"]]
    change = [r[CLAIM] for r in runs["change"]]
    unit = metrics[CLAIM]["unit"]
    for name, vs in (("parent", parent), ("change", change)):
        q1, med, q3 = quartiles(vs)
        print(f"{name}: median {med:.4g} {unit}, quartiles {q1:.4g} .. {q3:.4g}")
    won, needed, gap, iqr, holds = verdict(parent, change, lower)
    print(f"change won {won} of {len(parent)} pairs (needs {needed}); "
          f"median gap {gap:.4g} {unit} vs parent IQR {iqr:.4g} {unit}")
    print(f"claim {'holds' if holds else 'does not hold'} "
          f"({CLAIM}, {args.workload}, parent {sha[:12]})")
    for name, m in metrics.items():
        if name not in runs["parent"][0]:
            continue
        pv = [r[name] for r in runs["parent"]]
        cv = [r[name] for r in runs["change"]]
        p, c = statistics.median(pv), statistics.median(cv)
        worse = (c - p) / p if m["better"] == "lower" else (p - c) / p
        state = resolution(pv, cv, m["bound"], m["better"] == "lower")
        print(f"{name}: parent median {p:.4g}, change median {c:.4g} {m['unit']}; "
              f"worse by {worse:+.3f} (bound {m['bound']}); spread parent "
              f"{spread(pv):.3f}, change {spread(cv):.3f}: {state}")


if __name__ == "__main__":
    main()
