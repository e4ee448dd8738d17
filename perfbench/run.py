#!/usr/bin/env python3
"""Build and run graft's benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tracker --seed 1 --seconds 20 --trace 0

The first run compiles graft's main sources together with the benchmark
harness, with the Scala compiler among the Spark jars graft builds
against; later runs reuse the build while the sources are unchanged. The
last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORK = os.path.join(BENCH, "work")
WORKLOADS = ("tracker", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (graft's build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.abspath(__file__)]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The jars of the directory graft's build.sbt names as its unmanagedBase:
    Spark and the Scala library and compiler it ships with."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m:
        log("graft's build.sbt names no unmanagedBase")
        return []
    return sorted(glob.glob(os.path.join(m.group(1), "*.jar")))


def build():
    """Compile graft's main sources and the harness with the Scala compiler
    from Spark's jar directory. Nothing is resolved and nothing outside
    this directory is written."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft's sources (src/main/scala/graft) are not in this checkout")
        return False
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return True
    jars = spark_jars()
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        log("no Scala compiler among Spark's jars")
        return False
    sources = []
    for r in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main", "scala")):
        for d, _, names in os.walk(r):
            sources += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    classes = os.path.join(TARGET, "classes")
    tmp = os.path.join(TARGET, "tmp")
    for d in (classes, tmp):
        if os.path.exists(d):
            subprocess.run(["rm", "-rf", d], check=True)
        os.makedirs(d)
    for f in (CLASSPATH, STAMP):
        if os.path.exists(f):
            os.remove(f)
    args = os.path.join(TARGET, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(sorted(sources)) + "\n")
    cp = os.pathsep.join(jars)
    log(f"building ({len(sources)} Scala sources)")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, f"@{args}"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"build exceeded {BUILD_TIMEOUT_S} s")
        return False
    if rc != 0:
        log(f"build failed (exit {rc})")
        return False
    with open(CLASSPATH, "w") as fh:
        fh.write(os.pathsep.join([classes] + jars))
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not build():
        return 2
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(WORK, "tmp")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap, so the peak RSS does not follow the collector's resizing
    cmd += ["-Xms1536m", "-Xmx1536m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--bench-dir", BENCH, "--work", WORK]
    if os.path.exists(WORK):
        subprocess.run(["rm", "-rf", WORK], check=True)
    os.makedirs(tmp)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 3
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM failed (exit {proc.returncode})")
        return proc.returncode or 4
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        return 5
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
