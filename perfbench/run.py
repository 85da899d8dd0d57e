#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Inputs, side tables, outputs and traces live under
`.bench_cache/`, each build's classes and classpath under `.bench_build/<stamp>/`.

The JVM (perfbench.Main) times the workload and checks extraction outputs
against the single-threaded oracle. This script checks query outputs against
the DuckDB oracle with tools/check_oracle.py, then prints
{"correct", "attempted", "failed", "metrics"}. It exits non-zero when any
check fails or the program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True

WORKLOADS = ("extract_default", "queries")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(ROOT, ".bench_cache")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
ORACLE_TOOL = os.path.join(ROOT, "tools", "check_oracle.py")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175  # everything after the build: prepare and measure JVMs together
KEEP_CORPORA = 12


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads: the program's and the benchmark's sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compiles with sbt unless this stamp's build is kept; returns the runtime
    classpath and the JVM options (the root build's --add-opens).

    sbt compiles into target dirs that every stamp shares, so the compiled
    class dirs are copied to `.bench_build/<stamp>/` and the classpath points
    at the copies: a kept build runs its own sources' classes, whatever sbt
    compiled since."""
    snap = os.path.join(BUILD, stamp)
    info = os.path.join(snap, "build.json")
    if os.path.exists(info):
        with open(info) as f:
            b = json.load(f)
        return b["classpath"], b["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", NO_COLOR="1")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath", "print javaOptions"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s", 3)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    opts = [l[2:] for l in lines if l.startswith("* ")]  # `print` lists a Seq as "* <item>" lines
    if p.returncode != 0 or not cps or "--add-opens" not in opts:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})", 3)
    tmp = snap + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(snap, ignore_errors=True)
    os.makedirs(tmp)
    cp = []
    for i, e in enumerate(cps[-1].split(os.pathsep)):
        if os.path.isdir(e) and os.path.abspath(e).startswith(ROOT + os.sep):
            shutil.copytree(e, os.path.join(tmp, f"cp{i}"))
            e = os.path.join(snap, f"cp{i}")
        cp.append(e)
    b = {"classpath": os.pathsep.join(cp), "java_options": opts}
    with open(os.path.join(tmp, "build.json"), "w") as f:
        json.dump(b, f)
    os.rename(tmp, snap)
    print(f"[perfbench] built in {time.time() - t0:.1f} s (stamp {stamp})", flush=True)
    return b["classpath"], b["java_options"]


def prune_corpora():
    """Keeps the most recently used generated corpora, so disk use stays bounded."""
    d = os.path.join(CACHE, "corpus")
    if not os.path.isdir(d):
        return
    entries = sorted((os.path.join(d, e) for e in os.listdir(d)), key=os.path.getmtime, reverse=True)
    for e in entries[KEEP_CORPORA:]:
        shutil.rmtree(e, ignore_errors=True)


def run_jvm(args, cp, opts, stamp, deadline, prepare=False):
    for sub in ("tmp", "spark", "warehouse", "side"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    java = ["java"] + opts + [
        "-Xmx3g",
        f"-Djava.io.tmpdir={CACHE}/tmp",
        f"-Dspark.local.dir={CACHE}/spark",
        f"-Dspark.sql.warehouse.dir={CACHE}/warehouse",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cache", CACHE, "--sf", SF_DIR, "--stamp", stamp,
        "--prepare", "1" if prepare else "0"]
    env = dict(os.environ, GRAFT_SIDE_ROOT=os.path.join(CACHE, "side"),
               SPARK_LOCAL_DIRS=os.path.join(CACHE, "spark"))
    proc = subprocess.Popen(java, cwd=CACHE, env=env, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif line.startswith("[perfbench]"):
                print(line, end="", flush=True)
    finally:
        proc.wait()
        watchdog.cancel()
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM failed (exit {proc.returncode})", 4)
    return result


def oracle_failures(out_dir, deadline, label="oracle"):
    """Runs tools/check_oracle.py over the query outputs in out_dir (each
    beside its SQL in oracle_sql.json); returns the names it fails."""
    try:
        p = subprocess.run([sys.executable, ORACLE_TOOL, SF_DIR, out_dir], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("oracle check timed out", 4)
    lines = p.stdout.splitlines()
    failed = {l.split()[1].rstrip(":") for l in lines if l.startswith("FAIL ")}
    if p.returncode != 0 and not failed:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"oracle check did not run (exit {p.returncode})", 4)
    for l in lines:
        if l.strip():
            print(f"[perfbench] {label} {l}", flush=True)
    return failed


def negative_control(q_dir, deadline):
    """Drops the last row of the first non-empty query output, in a dir of
    its own, and returns whether the oracle check flags it."""
    import pyarrow.parquet as pq
    with open(os.path.join(q_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for name in sorted(oracle):
        t = pq.read_table(os.path.join(q_dir, name))
        if t.num_rows > 0:
            break
    else:
        return False
    neg = q_dir + "_neg"
    os.makedirs(neg)
    pq.write_table(t.slice(0, t.num_rows - 1), os.path.join(neg, name))
    with open(os.path.join(neg, "oracle_sql.json"), "w") as f:
        json.dump({name: oracle[name]}, f)
    return name in oracle_failures(neg, deadline, "negative control")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft are missing")
    if not os.path.isdir(SF_DIR):
        fail(f"query tables missing: {SF_DIR}")
    if not os.path.isfile(ORACLE_TOOL):
        fail(f"query oracle check missing: {ORACLE_TOOL}")

    stamp = source_stamp()
    cp, opts = build(stamp)
    prune_corpora()
    deadline = time.time() + RUN_TIMEOUT_S
    res = run_jvm(args, cp, opts, stamp, deadline)
    if res.get("prepared") is False:
        # inputs are generated by a JVM of their own, so the measured JVM
        # starts equally cold whether or not they were cached
        t0 = time.time()
        run_jvm(args, cp, opts, stamp, deadline, prepare=True)
        print(f"[perfbench] prepared inputs in {time.time() - t0:.1f} s", flush=True)
        res = run_jvm(args, cp, opts, stamp, deadline)
        if res.get("prepared") is False:
            fail("inputs still missing after the prepare step", 4)
    correct, failed = res["correct"], res["failed"]
    if args.workload == "queries":
        q_dir = os.path.join(res["run_dir"], "q")
        bad = oracle_failures(q_dir, deadline)
        control = negative_control(q_dir, deadline)
        failed += sum(res["op_counts"].get(q, 0) for q in bad)
        print(f"[perfbench] negative control (one row dropped) flagged: {control}", flush=True)
        correct = correct and not bad and control
    shutil.rmtree(res["run_dir"], ignore_errors=True)
    correct = correct and failed == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": res["metrics"]}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
