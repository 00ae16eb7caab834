#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source (once per source
state), runs one workload in a fresh JVM, checks the run finished, and
prints the result object as the last line of stdout.

    python3 perfbench/run.py --workload export_jdbc --seed 1 --seconds 10 --trace 0

Workloads: export_jdbc, export_many_tables, query_scan, query_iterative.
Extra options: --scale smoke (smallest inputs, used by smoke_test.py),
--corrupt-export (deletes one output file before the checks),
--record-fingerprints (rewrites fingerprints.json from this run's results).

Run from the repository root. Everything the run writes stays under
perfbench/work and the build's target directories.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-source.sha256")
WORKLOADS = ["export_jdbc", "query_mixed", "export_many_tables", "query_scan", "query_iterative"]
RUN_LIMIT_S = 170  # a run must end within 180 s, the build excluded
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + benchmark with sbt unless this source state is
    already built; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = out[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def check_result(line):
    r = json.loads(line)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1
    assert isinstance(r["failed"], int)
    for name, m in r["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert isinstance(m["value"], (int, float)), name
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--scale", default="full", choices=["full", "smoke"])
    ap.add_argument("--corrupt-export", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()

    for needed in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, needed)):
            log(f"program source missing: {needed} (run from a full checkout)")
            return 2
    try:
        cp = build()
    except (SystemExit, subprocess.TimeoutExpired, OSError) as e:
        log(f"cannot build the program: {e}")
        return 2

    work = os.path.join(WORK, a.workload)
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    fixtures = os.path.join(work, "fixtures")
    env = dict(os.environ, SPARK_GRAFT_FIXTURE_DIR=fixtures, SPARK_LOCAL_IP="127.0.0.1")
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap and the throughput collector keep heap sizing out of
        # the run-to-run spread of pass times and peak RSS
        "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
        f"-Dderby.stream.error.file={os.path.join(logs, 'derby.log')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scale", a.scale, "--work", work,
        "--fingerprints", os.path.join(HERE, "fingerprints.json")]
    if a.corrupt_export:
        cmd.append("--corrupt-export")
    if a.record_fingerprints:
        cmd += ["--record-fingerprints", os.path.join(HERE, "fingerprints.json")]
    errlog = os.path.join(logs, f"{a.workload}.stderr")
    with open(errlog, "w") as err:
        p = subprocess.Popen(cmd, cwd=logs, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"run exceeded {RUN_LIMIT_S} s; see {errlog}")
            return 3
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        with open(errlog) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        log(f"no result (exit {p.returncode}); see {errlog}")
        return p.returncode or 4
    for l in lines[:-1]:
        print(l)
    try:
        check_result(lines[-1])
    except (ValueError, AssertionError) as e:
        log(f"malformed result line: {e}")
        return 5
    print(lines[-1], flush=True)
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())
