#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources
(src/main/scala) together with the benchmark's own Scala sources
(perfbench/src) with the Scala 2.13 compiler that ships in Spark's jars
directory, into perfbench/.build/<source hash>/classes.

A build is reused while no source file changes. Run it alone with
`python3 perfbench/build.py` from the repository root.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
BUILD_DIR = os.path.join(ROOT, "perfbench", ".build")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one beside a
    spark-submit on PATH; it must hold the Scala 2.13 compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(
                f.startswith("scala-compiler-2.13") for f in os.listdir(jars)):
            return jars
    raise SystemExit("perfbench: no Spark 2.13 jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_sha(srcs, jars):
    h = hashlib.sha256()
    h.update(",".join(sorted(f for f in os.listdir(jars) if f.startswith("scala-"))).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def build():
    """Returns (classes dir, source hash), compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    sha = source_sha(srcs, jars)
    classes = os.path.join(BUILD_DIR, sha[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes, sha
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp",
           os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, sha


if __name__ == "__main__":
    print(build()[0])
