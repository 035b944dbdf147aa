#!/usr/bin/env python3
"""Runs one benchmark run and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, offline, Spark from /opt/spark/jars) into
perfbench/target; later runs reuse that build while the sources are
unchanged. Each run starts one JVM (see graft.perfbench.Main), which
sets up the workload, times ops for --seconds, checks every op's
output and writes its record; this script prints the record as
"name = value unit" lines and, as its last line, the JSON summary:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 its per-layer ones. Everything a run writes goes under
.bench_build/ in the checkout; the run's scratch root is deleted at the
end and its full record kept in .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
BUILD = CHECKOUT / ".bench_build"
DATA = Path("/root/testdata/sf0.1")  # the read-only test tables, TESTDATA.md
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = ["-Xms3g", "-Xmx3g"]
# the JDK 17 module opens and options build.sbt gives the repo's forks
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("pipeline-training-cut", "query-battery", "stream-drain")
SBT_FLAGS = [
    "--batch", "-Dsbt.log.noformat=true",
    "-Dsbt.override.build.repos=true",
    "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
    "-Dsbt.offline=true",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [CHECKOUT / "src" / "main", HERE / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for root in roots:
        files = sorted(root.rglob("*")) if root.is_dir() else [root]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(CHECKOUT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    stamp_file, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if (stamp_file.exists() and cp_file.exists()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", *SBT_FLAGS, "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "classes" in l and ":" in l]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}), see {log}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def git_commit():
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(CHECKOUT.parent))
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=CHECKOUT,
                              env=env, capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def run_jvm(cp, args, trace, deadline):
    """One JVM run, killed at the deadline; returns its record."""
    root = BUILD / "run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    name = f"{args.workload}-seed{args.seed}-trace{trace}"
    out = BUILD / "results" / f"{name}.json"
    out.unlink(missing_ok=True)
    try:
        launch(cp, args, trace, root, out, BUILD / "results" / f"{name}.log",
               deadline)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    rec = json.loads(out.read_text())
    rec.update(git_commit=git_commit(), mem_total_mb=mem_total_mb())
    out.write_text(json.dumps(rec, indent=1))
    return rec


def launch(cp, args, trace, root, out, log, deadline):
    cmd = ["java", *HEAP,
           *[x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={root / 'tmp'}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--data", str(DATA), "--root", str(root),
           "--checkout", str(CHECKOUT), "--out", str(out)]
    # a variable like SPARK_GRAFT_ONLY silently narrows what the program runs
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=err, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}")
    if code != 0 or not out.exists():
        fail(f"run failed (exit {code}), see {log}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    for need in (CHECKOUT / "src" / "main" / "scala",
                 CHECKOUT / "examples" / "training_cut.yml", DATA):
        if not need.exists():
            fail(f"missing {need}: run from the root of a full checkout")

    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S
    (BUILD / "results").mkdir(parents=True, exist_ok=True)
    if args.trace:
        # an untraced twin on the same seed first: the tracing overhead
        # is the difference of the two runs' median op latency (a cold
        # first op has no untraced counterpart inside the traced JVM)
        twin = run_jvm(cp, args, 0, deadline)
        rec = run_jvm(cp, args, 1, deadline)
        rec["per_layer"]["trace.overhead_ms"] = {
            "value": rec["end_to_end"]["op_p50_ms"]["value"]
            - twin["end_to_end"]["op_p50_ms"]["value"],
            "unit": "ms", "samples": rec["end_to_end"]["op_p50_ms"]["samples"]}
    else:
        rec = run_jvm(cp, args, 0, deadline)

    print(f"workload={rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"seconds={rec['seconds']} nproc={rec['nproc']} "
          f"mem_total_mb={rec['mem_total_mb']} max_heap_mb={rec['max_heap_mb']:.0f} "
          f"git_commit={rec['git_commit']}")
    print("spark_conf " + json.dumps(rec["spark_conf"], sort_keys=True))
    for o in rec["ops"]:
        if o["error"]:
            print(f"op {o['op']} ({o['label']}) FAILED: {o['error']}")
    section = "per_layer" if args.trace else "end_to_end"
    for name, m in sorted(rec[section].items()):
        print(f"{name} = {m['value']} {m['unit']} (n={m['samples']})")
    if not args.trace and "op_p90_ms" not in rec["end_to_end"]:
        n = rec["end_to_end"]["op_p50_ms"]["samples"]
        print(f"op_p90_ms not published: {n} samples, p90 needs 100 (10 beyond it)")
    for r in rec["reconciliation"]:
        print("reconcile " + json.dumps(r, sort_keys=True))

    metrics = {}
    for m in spec[section]:
        got = rec[section].get(m["name"])
        if got is None and args.trace:
            got = {"value": 0.0, "unit": m["unit"]}  # layer not reached by this workload
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} missing from the run record")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
