#!/usr/bin/env python3
"""Build and run the detanalysis Spark benchmark.

From the root of the repository:

    python3 perfbench/run.py --workload analysis_session --seed 1 --seconds 20 --trace 0

The library (src/main/scala) and the benchmark (perfbench/src) are compiled
together with the Scala compiler that ships among Spark's jars into
.bench_build/perfbench/classes; the build is reused while the sources are
unchanged. Inputs, results and span traces also go under .bench_build/.
The last line of standard output is the JSON result; the lines before it
print every metric by name and unit. Exits non-zero, without a result, if
the build or any step of the run fails.
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
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("analysis_session", "curation_pipeline")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the sbt build passes to forked runs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("Spark's jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.isfile(exe):
        fail("java not found: set JAVA_HOME")
    return exe


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found: {os.path.relpath(lib, ROOT)}")
    found = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compile library + benchmark unless the same sources are built."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    classes = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "classes.sha256")
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes, digest
    os.makedirs(WORK, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classes, digest


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return ""
    return r.stdout.strip() if r.returncode == 0 else ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec):
        fail("BENCHMARK.json not found at the repository root")

    jars = spark_jars()
    classes, digest = build(jars)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java(), f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", WORK, "--spec", spec,
           "--git-sha", git_sha() or "", "--source-sha", digest]
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"benchmark exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        fail("benchmark printed no result line")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
