#!/usr/bin/env python3
"""Runs one workload of the spark-graft benchmark and prints its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload pipeline_trickle --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source into .bench_build/ (see
build.sh), runs the workload in one JVM sized to this host, and prints
report lines, then as the last line one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer metrics of a traced run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("pipeline_trickle", "lake_mixed")
JAVA_TIMEOUT_S = 165
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_times():
    """(steal, total) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except OSError:
        return 0, 0


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH that sits in a
    Spark installation (one with a jars/ directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


def commit(root, build):
    """The git commit, else (in a checkout without .git) the hash of the
    engine's sources that build.sh stamped on its build."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    try:
        with open(os.path.join(build, "engine", ".stamp")) as f:
            return "sources-sha1:" + f.read().strip()
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a few hundred rows, for the smoke test")
    ap.add_argument("--corrupt-kv", action="store_true",
                    help="corrupt one KV row after a drop; the oracle must catch it")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        print("run.py: run from the repository root (no engine sources here)", file=sys.stderr)
        return 2
    home = spark_home()
    if not home:
        print("run.py: no Spark installation found; set SPARK_HOME", file=sys.stderr)
        return 2
    build = os.path.join(root, ".bench_build")
    os.makedirs(os.path.join(build, "logs"), exist_ok=True)
    b = subprocess.run(["bash", os.path.join("perfbench", "build.sh"), build],
                       capture_output=True, text=True, env=dict(os.environ, SPARK_HOME=home))
    if b.returncode != 0:
        sys.stderr.write(b.stdout[-4000:] + b.stderr[-4000:])
        print("run.py: build failed", file=sys.stderr)
        return 1

    jars = os.path.join(home, "jars")
    tmp = os.path.join(build, "tmp")
    work = os.path.join(build, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: a heap that starts small and grows, or shrinks
    # after the heap samples' full collections, gives drops that speed up
    # over a run as the young generation grows back
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    # Spark's status store keeps the last 1000 jobs and executions even with
    # the UI off; capping it keeps old-gen samples about the working set
    # rather than about how many ops the run managed
    cmd += ["-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
            "-Dspark.ui.retainedTasks=1000", "-Dspark.sql.ui.retainedExecutions=50",
            "-Dspark.sql.streaming.ui.retainedQueries=10",
            "-Dspark.sql.streaming.ui.retainedProgressUpdates=10"]
    if args.trace:
        cmd.append("-Dspark.hadoop.graft.logstore.file=perfbench.CountingLogStore")
    cmd += ["-cp", os.pathsep.join([os.path.join(build, "bench"), os.path.join(build, "engine"),
                                    os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size,
            "--work", work]
    if args.corrupt_kv:
        cmd.append("--corrupt-kv")

    load0 = os.getloadavg()
    t0 = time.monotonic()
    steal0, total0 = cpu_times()
    log_path = os.path.join(build, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run.py: workload exceeded {JAVA_TIMEOUT_S}s; log in {log_path}",
                  file=sys.stderr)
            return 1
        finally:
            shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_times()

    result, env = None, {}
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith("ENV "):
            env = json.loads(line[len("ENV "):])
        else:
            print(line)
    if p.returncode != 0 or result is None:
        print(f"run.py: JVM exited {p.returncode} without a result; log in {log_path}",
              file=sys.stderr)
        return 1
    env.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(root, build), "heap": HEAP,
        "jvm_wall_s": round(time.monotonic() - t0, 3),
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "steal_frac": (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0,
    })
    print("# env " + json.dumps(env, sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
