#!/usr/bin/env python3
"""Run one graftbench workload and print its result as the last stdout line.

    python3 graftbench/run.py --workload pipeline --seed 1 --seconds 6 --trace 0

Builds the program and the benchmark from the checkout's sources (sbt,
offline) when they changed since the last build, runs the workload in one
JVM, checks the outputs (the catalog queries against their DuckDB oracle
SQL in oracle.py, the pipeline outputs inside the JVM) and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exit code 0 when every check passed, 1 when a check failed, 2 when the run
could not be made (no sources to build, build or JVM failure, timeout, or a
measurement the harness itself spoiled: the stream's generator fell behind
its schedule or the stream's backlog grew).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
# each workload's corpus: the generator's event rows, the queries' tables
DATA = {"pipeline": os.path.join(BENCH, "data", "sf0.1"),
        "catalog_core": os.path.join(BENCH, "data", "sf0.01")}
WORK = os.path.join(BENCH, "work")
TARGET = os.path.join(BENCH, "target")
DEADLINE_S = 170.0
BUILD_DEADLINE_S = 840.0
HEAP = "3g"


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: root and benchmark build files and sources."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project"),
             os.path.join(REPO, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for root in roots:
        walk = [(os.path.dirname(root), [], [os.path.basename(root)])] \
            if os.path.isfile(root) else os.walk(root)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build used the same sources."""
    launch = os.path.join(TARGET, "launch.txt")
    stamp_file = os.path.join(TARGET, "source.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return launch
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building (sbt launchSpec)")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false",
                            "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_DEADLINE_S,
                           start_new_session=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0 or not os.path.exists(launch):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return launch


def run_jvm(launch, args, work, budget):
    cp, jvm = "", []
    with open(launch) as f:
        for line in f:
            k, _, v = line.rstrip("\n").partition("=")
            if k == "classpath":
                cp = v
            elif k == "jvm":
                jvm.append(v)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + jvm +
           ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--data", DATA[args.workload]])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("workload timed out")
    result = None
    for line in out.decode(errors="replace").splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    if proc.returncode != 0 or result is None:
        die(f"workload failed (exit {proc.returncode})")
    if result["invalid"]:
        die("measurement not valid: " + "; ".join(result["invalid"]))
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join(REPO, "build.sbt"), os.path.join(REPO, "src", "main", "scala"),
                 DATA[args.workload]):
        if not os.path.exists(need):
            die(f"missing {need}: run from a full checkout of the repository")
    launch = build()
    start = time.time()  # a build may take long; the run's own budget starts here

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = run_jvm(launch, args, work, DEADLINE_S - (time.time() - start))
    log(f"workload ran in {time.time() - start:.1f}s")
    problems = list(result["problems"])
    failed = result["failed"]
    if args.workload == "catalog_core":
        import oracle
        sql = os.path.join(work, "catalog", "oracle_sql.json")
        shutil.copy(sql, oracle.SQL_DUMP)
        with open(sql) as f:
            bad = oracle.check(os.path.join(work, "catalog", "check"), json.load(f))
        problems += bad
        failed += len(bad)
        log(f"oracle check done at {time.time() - start:.1f}s")
    spans = os.path.join(work, f"spans-{args.workload}.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(WORK, f"spans-{args.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": min(failed, result["attempted"]) if failed else 0,
                      "metrics": result["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
