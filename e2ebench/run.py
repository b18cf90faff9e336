#!/usr/bin/env python3
"""End-to-end benchmark launcher.

Usage (from the repository root):

    python3 e2ebench/run.py --workload copy_resume --seed 1 --seconds 8 --trace 0

Workloads: copy_resume and validate_export (see Workloads.scala). The
launcher builds the program and the benchmark from source with sbt on the
first run in a checkout, and again only when a source changes. It then
runs the benchmark in one JVM whose heap, GC threads and JIT compiler
threads are pinned, with one CPU fewer Spark task slots than the CPUs it
may use. Everything it writes goes under `.bench_build/` in the
repository root. The last stdout line is the result JSON object.
`selftest.py` checks that damaged outputs are counted as failures.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "1g"
YOUNG = "256m"

# Spark on JDK 17 outside spark-submit needs these (same list as the
# program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build: program sources, build files
    and the benchmark's own sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    if shutil.which("sbt") is None:
        fail("sbt not found")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "e2ebench" not in lines[-1]:
        errors = [l for l in lines if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[-40:] or lines[-20:]) + "\n")
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "classpath.txt"), "w") as fh:
        fh.write(lines[-1])
    with open(os.path.join(BUILD, "stamp"), "w") as fh:
        fh.write(digest)


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources are not here; run from a full checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    current = open(stamp).read().strip() if os.path.isfile(stamp) else ""
    if current != digest:
        build(digest)
    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        return fh.read().strip()


def cores():
    """Spark task slots: one CPU is left to the driver thread, the JIT and
    the GC, so that compute threads never exceed the CPUs available."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n) - 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    # self-test only: damage each iteration's output before it is checked
    ap.add_argument("--corrupt", choices=["0", "1"], default="0")
    a = ap.parse_args()

    cp = classpath()
    k = cores()
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    # A fixed heap and young generation under the parallel collector: the
    # resident set then follows the old generation's high-water mark, not
    # G1's adaptive choice of regions, which differed by ~10% between runs.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={k}", "-XX:CICompilerCount=2",
            f"-XX:ActiveProcessorCount={k}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
              f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
              "-cp", cp, "e2ebench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--corrupt", a.corrupt])
    # Two malloc arenas: with glibc's default of eight per CPU, the native
    # memory the JVM's threads hold (and so peak_rss_mb) depended on which
    # threads happened to allocate at once.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"),
               MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("benchmark run timed out", 3)
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited with {proc.returncode}", proc.returncode or 1)
    try:
        json.loads(lines[-1])
    except ValueError:
        fail("benchmark printed no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
