#!/usr/bin/env python3
"""Counts the shell processes one benchmark run starts.

    python3 tools/count_forks.py --workload <w> --seed <n>

Run from the root of a checkout. Without libhadoop, Hadoop's local file
system starts a process for some file operations (`chmod` to set a
permission, `readlink` to check a link, `stat`/`ls` to read
permissions, `chown` to set an owner). This script builds the program
as `perfbench/run.py` does, puts logging shims for those five commands
first on PATH, runs `perfbench/run.py` once untraced at BENCHMARK.json's
run_seconds, and prints the launches per command and, under each, per
mode: chmod's mode argument, or another command's leading options.
A stream-drain run makes one op, so its counts are one cold drain's.

The shims run the real command after logging it, so the run's
timings include their cost: they are not benchmark numbers. This
script changes nothing under perfbench/.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
COMMANDS = ("chmod", "readlink", "stat", "ls", "chown")
SHIM = """#!/bin/sh
printf '%s\\n' "{name} $*" >> "{log}"
exec "{real}" "$@"
"""


def build():
    """perfbench's own build step, so the shims see only the run."""
    sys.dont_write_bytecode = True  # no __pycache__ under perfbench/
    sys.path.insert(0, str(CHECKOUT / "perfbench"))
    import run
    run.build()


def mode(name, args):
    if name == "chmod":
        return args[0] if args else "(none)"
    opts = [a for a in args if a.startswith("-")]
    return " ".join(opts) or "(none)"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    seconds = json.loads((CHECKOUT / "BENCHMARK.json").read_text())["run_seconds"]
    build()
    with tempfile.TemporaryDirectory(prefix="count_forks") as tmp:
        shims, log = Path(tmp) / "bin", Path(tmp) / "launches.log"
        shims.mkdir()
        log.touch()
        for name in COMMANDS:
            real = shutil.which(name)
            if real is None:
                continue
            shim = shims / name
            shim.write_text(SHIM.format(name=name, log=log, real=real))
            shim.chmod(0o755)
        env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}")
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=CHECKOUT, env=env, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"run failed:\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        launches = [l.split(" ") for l in log.read_text().splitlines() if l]
    by_cmd = collections.Counter(l[0] for l in launches)
    by_mode = collections.Counter((l[0], mode(l[0], l[1:])) for l in launches)
    print(f"workload {args.workload} seed {args.seed}: ops {res['attempted']}, "
          f"failed {res['failed']}, correct {res['correct']}")
    for name in COMMANDS:
        print(f"{name:<9} {by_cmd[name]:>7}")
        for (cmd, m), n in sorted(by_mode.items(), key=lambda kv: -kv[1]):
            if cmd == name:
                print(f"  {m:<20} {n:>7}")
    print(f"total     {len(launches):>7}")


if __name__ == "__main__":
    main()
