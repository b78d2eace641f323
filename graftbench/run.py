#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage, from the repository root:
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source when they changed
(graftbench/build.sh, into $CARGO_TARGET_DIR or .bench_build), then runs the
harness JVM (graftbench/src/Harness.scala). The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the line before
it is the run's full summary. Run artifacts (fingerprints, and with --trace 1
the span file and the per-key layer table) go to
.bench_out/<workload>/seed<n>-trace<t>/.

Inputs are the read-only test data sets under $GRAFT_TESTDATA (default
/root/testdata); Spark comes from $SPARK_HOME (default /opt/spark).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HEAP = "3g"          # fixed (-Xms = -Xmx); the sbt build's 20g default exceeds small hosts
RUN_LIMIT_S = 175    # a run (build excluded) must end within this

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build():
    """Compiles into <build dir>/classes unless the sources are unchanged."""
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                     + glob.glob("graftbench/src/*.scala") + ["graftbench/build.sh"])
    if not os.path.isdir("src/main/scala") or not os.path.isfile("graftbench/build.sh"):
        fail("run from the repository root: src/main/scala or graftbench/build.sh is missing")
    digest = hashlib.sha256()
    for path in sources:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    classes = os.path.join(build_dir, "graftbench", "classes")
    stamp = os.path.join(build_dir, "graftbench", "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return classes
    os.makedirs(os.path.dirname(classes), exist_ok=True)
    if subprocess.run(["bash", "graftbench/build.sh", classes]).returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def testdata():
    return os.environ.get("GRAFT_TESTDATA", "/root/testdata")


def java_command(classes, tmp, main, args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}:{spark_jars()}/*", main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    classes = build()
    out = os.path.abspath(os.path.join(".bench_out", args.workload,
                                       f"seed{args.seed}-trace{args.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        # set-up time counts from here: JVM start to session ready
        cmd = java_command(classes, tmp, "graftbench.Harness", [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--spawn-ns", str(time.time_ns()), "--data", testdata(), "--out", out,
            "--expected", "graftbench/expected.tsv"])
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; see {out}/jvm.log")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode}; see {out}/jvm.log")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
