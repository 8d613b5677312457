"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload corpus_linkgraph --seed 1 \
        --seconds 12 --trace 0

Run it from the repository root. It compiles the engine and the benchmark
(perfbench/build.py), then starts one JVM with Spark in local mode on at most
four cores. Inputs and scratch files go to perfbench/.work/<workload>, which
is emptied first. The JVM's human-readable lines pass through; the JSON
result line is printed only when the JVM exits cleanly in time.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

# the JVM's share of one run; the rest of the 180 s budget covers start-up
JVM_TIMEOUT_S = 170
HEAP = "4g"
# what spark-submit adds for Spark 4 on JDK 17 (JavaModuleOptions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(build.BENCH, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--work", work])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would move Spark's scratch out of the checkout
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        return 1
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write(out)
        print("perfbench: JVM exited with code %d" % proc.returncode, file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
