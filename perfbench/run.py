#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload relational_floor --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the library and the
benchmark with sbt (offline, from source) and caches the classpath under
perfbench/.work; later runs reuse it while no source file changed. The
JVM's last stdout line is the result JSON; everything else it prints
(progress, the layer report of a traced run) is passed through before it.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HOME = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HOME)
WORK = os.path.join(HOME, ".work")
WORKLOADS = ("relational_floor", "heavy_tail", "stream_sessionize")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700

# Spark on JDK 17 outside spark-submit needs these (the library's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HOME, "src"),
             os.path.join(ROOT, "project"), os.path.join(HOME, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HOME, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """The benchmark's runtime classpath, building first when needed."""
    digest = sources_digest()
    cached = os.path.join(WORK, f"classpath-{digest}.txt")
    if os.path.exists(cached):
        with open(cached) as fh:
            return fh.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       f" -Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HOME, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_LIMIT_S} s")
    if out.returncode != 0:
        errors = [l for l in out.stdout.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[-40:]) + "\n" if errors else out.stdout[-4000:])
        sys.stderr.write(out.stderr[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp = [l for l in out.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        sys.stderr.write(out.stdout[-4000:])
        fail("build printed no classpath")
    # the build output is shared by every digest: only the latest is valid
    for f in os.listdir(WORK):
        if f.startswith("classpath-"):
            os.remove(os.path.join(WORK, f))
    with open(cached, "w") as fh:
        fh.write(cp[-1])
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # the program under test is the repository around this directory
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: nothing to benchmark")

    cp = classpath()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(HOME, "log4j2.properties"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main", "--home", HOME, "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)])
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; scratch stays in WORK
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(java, cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("\n".join(lines))
        fail("benchmark JVM printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
