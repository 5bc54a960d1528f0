#!/usr/bin/env python3
"""Run one graftbench measurement.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the graft library and
the harness with sbt (offline) and records the runtime classpath; later
runs start the JVM directly from it. Each run gets a fresh work directory
under .graftbench_work/, removed at exit. A traced run (--trace 1) writes
its spans and Spark jobs to .graftbench_traces/<workload>-seed<n>.jsonl.
The last line of stdout is the result JSON; everything else goes to
stderr or to earlier stdout lines.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CONFIG = os.path.join(HERE, "config.json")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("cdc_stream", "curation_nightly")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# library's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_newest():
    newest = 0.0
    roots = [os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in files:
        if os.path.exists(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile with sbt unless the recorded classpath is newer than every source."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_newest():
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "writeClasspath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                            env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("graftbench: build timed out")
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"graftbench: build failed (sbt exit {rc})")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated runner still stops its JVM (the finally clauses below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graftbench: graft sources not found next to graftbench/; run from a full checkout")
    build()

    with open(CONFIG) as f:
        cfg = json.load(f)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    work = os.path.join(ROOT, ".graftbench_work", f"{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java_bin(), *cfg["jvm_options"],
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--config", CONFIG, "--workdir", work,
           "--tracedir", os.path.join(ROOT, ".graftbench_traces")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("graftbench: run timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"graftbench: run failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
