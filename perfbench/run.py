#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload <serve_hybrid|stream_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine with the benchmark
(perfbench/build.py), then runs the workload in a JVM of its own with a
local[nproc] SparkSession. All generated data, indexes and Spark scratch
live under perfbench/.work/<run> and are removed at exit; a traced run
also writes its spans to perfbench/out/. The last line of standard
output is the result:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1
the per-layer ones (see BENCHMARK.json and perfbench/README.md). A
failed output check exits non-zero and prints no result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve_hybrid", "stream_ingest")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit():
    # the ceiling keeps git from reading repositories above the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(build.ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10, env=env)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    classes, sha = build.build()
    jars = build.spark_jars()
    work = os.path.join(build.ROOT, "perfbench", ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(build.ROOT, "perfbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
              "--out", out, "--commit", commit(), "--source-sha", sha])
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("perfbench-result "):
                result = json.loads(line[len("perfbench-result "):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None or not result.get("correct"):
        print(f"perfbench: {args.workload} failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
