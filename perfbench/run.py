#!/usr/bin/env python3
"""Seeded serve / ingest / dedup benchmark for lintdbspark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 5 --trace 0

Builds the library and the harness from source (perfbench/build.py), then runs
one workload in one JVM against a local[N] Spark session, N = the number of
processors. Human-readable report lines go to stdout first; the last stdout
line is one JSON object {"correct", "attempted", "failed", "metrics"} holding
the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named
in BENCHMARK.json. Everything the run writes stays under the build directory
(.bench_build, or $CARGO_TARGET_DIR). See perfbench/README.md.
"""

import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("serve_ingest", "dedup_pipeline")
# one run must end within 180 s; the JVM is stopped well before that
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    classes = build.ensure_built()
    out = build.build_dir()
    work = os.path.join(out, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + tmp, "--add-modules", "jdk.incubator.vector"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              # inputs are cached per (generator build, workload, seed)
              "--inputs", os.path.join(out, "inputs", os.path.basename(classes),
                                       "%s-%d" % (a.workload, a.seed)),
              "--work", work,
              "--trace-out", os.path.join(out, "traces",
                                          "%s-%d.jsonl" % (a.workload, a.seed))])
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        code = 124
    finally:
        # never leave the JVM behind, also when this script is interrupted
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
