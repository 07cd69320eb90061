#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 wlbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source with sbt on first use (or
when a source changed), then runs the benchmark in one JVM. Everything it
writes stays under wlbench/. The last line of stdout is the JSON result;
on any failure the exit code is non-zero and no result is printed.
Extra flags (--size tiny, --fail-op N) are passed to the JVM unchanged.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH_FILE = os.path.join(HERE, "target", "wlbench-classpath")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# The heap's ceiling. It is not pre-touched, so peak RSS follows how much
# heap the program's work makes the collector commit.
HEAP = "2g"

# Spark on JDK 17 needs these outside spark-submit (the launcher's
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[wlbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: the library's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"[wlbench] library source not found: {need} (run from a full checkout)")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log("building library and benchmark with sbt")
    env = dict(os.environ)
    # resolve only from the local caches, as the repository's own build does
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S, start_new_session=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        sys.exit("[wlbench] build failed")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def java_command(cp, work, main_args):
    """The benchmark JVM's command line; `work` holds everything it writes."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
             f"-Dwlbench.expected={HERE}/expected",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "wlbench.Main", "--work-dir", work] + main_args)


def kill(proc):
    """Kill the JVM's process group if it is still running, and reap it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args, extra = ap.parse_known_args()

    cp = classpath()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a traced run also keeps its spans, one JSON line each
    spans = os.path.join(HERE, "work", "spans", f"{args.workload}-seed{args.seed}.jsonl")
    cmd = java_command(cp, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace]
        + (["--spans-out", spans] if args.trace == "1" else []) + extra)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    # the JVM may hang without writing a line: a timer kills it
    watchdog = threading.Timer(RUN_TIMEOUT_S, kill, (proc,))
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        kill(proc)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        sys.exit(f"[wlbench] benchmark exited with {proc.returncode}, no result")
    print(result, flush=True)


if __name__ == "__main__":
    main()
