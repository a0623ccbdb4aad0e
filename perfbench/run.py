#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the benchmark driver from source (perfbench/build.sbt)
on first use, then runs the driver in one JVM at local[<cores>] on a fresh
work directory under perfbench/.work, checks the query results against their
DuckDB oracle SQL (tools/check_oracle.py), and prints the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) named in BENCHMARK.json.
Exits nonzero when any check fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CORPUS = os.path.join(HERE, "corpus")
DEADLINE_S = 175

# set-ups per run, reported as their median
SETUPS = {"vat_filing": 9, "analytics": 2}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Digest of everything the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the engine and the benchmark driver with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(60, deadline - time.time()))
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, work, deadline):
    """The driver JVM, in its own process group so nothing outlives it."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.ui.enabled=false",
              "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--corpus", CORPUS, "--work", work,
              "--cores", str(os.cpu_count() or 1),
              "--setups", str(SETUPS[args.workload])])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("benchmark driver ran past its deadline")
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if code != 0:
        raise SystemExit(f"benchmark driver exited with code {code}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def oracle_failures(work, deadline):
    """Queries whose verified result differs from their DuckDB oracle, by
    the repository's own comparison (tools/check_oracle.py)."""
    verify = os.path.join(work, "verify")
    if not os.path.isdir(verify):
        return []
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), verify, CORPUS],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(1, deadline - time.time()))
    bad = re.findall(r"^FAIL (\S+?):", p.stdout, flags=re.M)
    if p.returncode != 0 and not bad:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("oracle check could not run")
    for line in p.stdout.splitlines():
        if line.startswith("FAIL") or line.startswith("  "):
            log("oracle: " + line)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in SETUPS:
        raise SystemExit(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found next to the benchmark")

    cp = build(deadline + 900 - DEADLINE_S)
    deadline = time.time() + DEADLINE_S
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(cp, args, work, deadline - 10)
        bad = oracle_failures(work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a query that failed its verification pass is already counted
    bad = [q for q in bad
           if not any(e.startswith(q + " (verify pass)") for e in res["errors"])]
    failed = res["failed"] + len(bad)
    for e in res["errors"]:
        log("program defect: " + e)
    for q in bad:
        log(f"program defect: {q} differs from its oracle")
    if args.trace:
        wanted, got = spec["per_layer"], res["layers"]
        absent = [m["name"] for m in wanted if m["name"] not in got]
        if absent:
            log("layers this workload does not exercise, reported as 0: "
                + ", ".join(absent))
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
    else:
        wanted, got = spec["end_to_end"], res["e2e"]
        missing = [m["name"] for m in wanted if m["name"] not in got]
        if missing:
            raise SystemExit("run reported no " + ", ".join(missing))
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                   for m in wanted}
    out = {"correct": failed == 0, "attempted": int(res["attempted"]),
           "failed": int(failed), "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
