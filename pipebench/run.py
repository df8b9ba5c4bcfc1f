#!/usr/bin/env python3
"""Outside-in pipeline benchmark for the graft library.

Run from the root of a checkout:

    python3 pipebench/run.py --workload etl_bulk --seed 1 --seconds 15 --trace 0

The first run builds the library and the benchmark with sbt (offline) and
caches the runtime classpath under .bench_build/pipebench; later runs reuse
it until a source or build file changes. Each run starts one JVM for one
workload. The last line of stdout is the result JSON; the lines before it
are readable metrics and output digests. See pipebench/README.md.
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
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "pipebench")
WORKLOADS = ("etl_bulk", "corpus_dedup")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
FIRST_RUN_LIMIT_S = 880

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file the build reads, so any change forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit, log):
    """Run `cmd` in its own process group; kill the group on timeout and
    always wait for it to end."""
    with open(log, "wb") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"{cmd[0]} exceeded {limit:.0f} s (log: {log})")
    return p.returncode, out.decode("utf-8", "replace")


def tail(path, n=40):
    with open(path, "rb") as fh:
        return b"\n".join(fh.read().splitlines()[-n:]).decode("utf-8", "replace")


def classpath():
    """Build if needed; return the runtime classpath and whether it built."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(STATE, "build.log")
    rc, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"], BENCH, env, BUILD_LIMIT_S, log)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:] + "\n" + tail(log) + "\n")
        fail(f"build failed (exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {BENCH}: run from a full checkout")
    os.makedirs(STATE, exist_ok=True)
    started = time.time()
    cp, built = classpath()

    tag = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "pipebench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", os.path.join(work, "run"),
              "--traces", os.path.join(STATE, "traces")])
    log = os.path.join(STATE, f"{tag}.log")
    # a run that just built may use what is left of the first run's budget
    limit = (FIRST_RUN_LIMIT_S - (time.time() - started)) if built else RUN_LIMIT_S
    try:
        rc, out = run_bounded(cmd, ROOT, dict(os.environ), limit, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if rc != 0 or result is None:
        if result is not None:
            print(json.dumps(result))
        sys.stderr.write(tail(log) + "\n")
        fail(f"benchmark JVM exited {rc}")
    os.remove(log)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
