#!/usr/bin/env python3
"""Paper-pipeline benchmark.

Run from the repository root:

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: cohort_staged and curate_corpus (BENCHMARK.json says why each
is there; pipebench/layers.json says which layer metric should move which
end-to-end metric, and on which workload).

The first run in a checkout builds the library and the benchmark with sbt
(offline) and caches the classpath under .bench_build/; later runs start
the JVM directly. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics. Any other outcome exits non-zero
without printing a result.
"""

import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "pipebench")
BUILD = os.path.join(ROOT, ".bench_build", "pipebench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"
YOUNG = "256m"

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (the library's build file passes the same list to forked runs).
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
    sys.exit(1)


def sources_mtime():
    """Newest modification time over everything the build compiles."""
    newest = 0.0
    for top in ("src/main", "pipebench/src", "build.sbt", "project",
                "pipebench/build.sbt", "pipebench/project"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            newest = max(newest, os.path.getmtime(path))
        for d, dirs, files in os.walk(path):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, err = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {limit_s:.0f} s")
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_DFL)
    return proc.returncode, out, err


def classpath():
    """The benchmark's runtime classpath, building first when stale."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (os.path.exists(CLASSPATH)
                and os.path.getmtime(CLASSPATH) >= sources_mtime()):
            with open(CLASSPATH) as f:
                return f.read().strip()
        sbt = shutil.which("sbt")
        if sbt is None:
            fail("sbt is not on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
                    "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            sbt_opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(sbt_opts)
        code, out, err = run_bounded(
            [sbt, "--batch", "-Dsbt.log.noformat=true",
             "export pipebench/Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        lines = [l for l in out.splitlines()
                 if l and not l.startswith("[") and os.pathsep in l]
        if code != 0 or not lines:
            sys.stderr.write(out[-4000:])
            fail(f"build failed (sbt exit {code})")
        cp = lines[-1].strip()
        with open(CLASSPATH, "w") as f:
            f.write(cp + "\n")
        return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/pipeline/Pipelines.scala",
                 "pipebench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")

    cp = classpath()
    work = os.path.join(BUILD, "work", args.workload)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH")
    # a small fixed young generation collects every few hundred MB, so the
    # post-collection heap peak is sampled often enough to be repeatable
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.level=ERROR"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "pipebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]
    with open(os.path.join(BUILD, f"{args.workload}.stderr"), "w") as log:
        code, out, _ = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT,
                                   stdin=subprocess.DEVNULL,
                                   stdout=subprocess.PIPE, stderr=log,
                                   text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        with open(log.name) as f:
            sys.stderr.writelines(f.readlines()[-20:])
        fail(f"benchmark JVM exited with {code}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("the benchmark JVM printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
