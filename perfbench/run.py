#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_search --seed 1 --seconds 24 --trace 0

Workloads: ingest_search, curate. The first run in a checkout builds
the library and the benchmark from source with sbt (offline) and caches the
classpath keyed by a hash of every source and build file; later runs launch
the JVM directly. Generated inputs live under
perfbench/work/<workload>-<seed>-<pid> and are removed after the run; results
and traces are written to perfbench/out.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "target", "perfbench-build")
WORKLOADS = ("ingest_search", "curate")

# What spark-submit passes to a JDK 17 JVM (Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the library's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for dirpath, dirnames, filenames in os.walk(d):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, **kw):
    """Run in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build(deadline):
    """Compile library + benchmark; return the runtime classpath."""
    want = stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building library and benchmark with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    code, out, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        BENCH, max(1, deadline - time.time()), env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"sbt build failed with exit code {code}")
    lines = [l.strip() for l in out.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    cp = lines[-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        log("the library's sources are not next to the benchmark; run from a full checkout")
        return 2

    start = time.time()
    first = not os.path.exists(os.path.join(BUILD, "classpath"))
    deadline = start + (880 if first else 170)
    cp = build(deadline)

    # each run generates its inputs into a directory of its own
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only, with compile thresholds at a tenth and room for all the code,
    # so the JIT settles within the warm-up run and never flushes code
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:CompileThresholdScaling=0.1", "-XX:ReservedCodeCacheSize=512m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--out", out,
    ]
    try:
        code, stdout, _ = run_bounded(cmd, ROOT, max(1, deadline - time.time()),
                                      stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    finally:
        subprocess.run(["rm", "-rf", work])
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stdout.write(stdout)
        log(f"benchmark JVM exited with code {code}")
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except subprocess.TimeoutExpired:
        log("timed out")
        sys.exit(1)
    except Exception as e:  # noqa: BLE001 - report and fail the run
        log(f"error: {e}")
        sys.exit(1)
