#!/usr/bin/env python3
"""Benchmark of record for graft: builds graft and the harness from source,
runs one workload, checks its output, and prints one JSON result line last.

    python3 perfbench/run.py --workload pg_cdc --seed 7 --seconds 10 --trace 0

Run it from the repository root. See perfbench/README.md for the workloads,
the metrics and how each one is measured.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pg_snapshot", "pg_cdc", "curate_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (same list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, or else of the
    first distribution on PATH (a `bin/spark-submit` beside `jars/`)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    fail("no Spark jars found: set SPARK_HOME to a Spark 4 distribution")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        fail("graft sources not found under src/main/scala; run from a full checkout")
    if not bench:
        fail("harness sources not found under perfbench/src")
    return main + bench


def build(build_dir, jars, srcs):
    """Compiles graft's main sources and the harness with scalac (from the
    Spark distribution) unless the classes already match the sources."""
    os.makedirs(build_dir, exist_ok=True)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", tmp, "-classpath", cp, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=ROOT, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed (scalac exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, digest


def cpu_ticks():
    """(total, idle + iowait, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def busy_share(a, b):
    return round(1.0 - (b[1] - a[1]) / max(1, b[0] - a[0]), 3)


def cpu_sample(seconds=0.5):
    """Share of all CPUs busy over a short window."""
    a = cpu_ticks()
    time.sleep(seconds)
    return busy_share(a, cpu_ticks())


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_head():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cdc-offered-rate", type=float, default=1000.0)
    args = ap.parse_args()

    srcs = sources()
    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes, digest = build(build_dir, jars, srcs)

    run_dir = os.path.join(build_dir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    busy_before, load_before = cpu_sample(), loadavg()
    ticks_before = cpu_ticks()
    launch_ms = int(time.time() * 1000)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dperfbench.launchMillis={launch_ms}",
              f"-Dgraft.offsets.dir={run_dir}/offsets",
              f"-Dderby.stream.error.file={run_dir}/derby.log",
              f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
              "-cp", os.pathsep.join([classes, os.path.join(os.path.dirname(jars[0]), "*")]),
              "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cdc-offered-rate", str(args.cdc_offered_rate), "--run-dir", run_dir])
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        fail(f"stopped by signal {signum}", code=128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if line.startswith("#"):
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if time.time() - launch_ms / 1000 >= RUN_TIMEOUT_S:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", code=3)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited {proc.returncode}", code=4)
    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            result = json.loads(line)
            break
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("benchmark JVM printed no result", code=5)
    if any(m.get("value") is None for m in result["metrics"].values()):
        fail("a metric could not be measured: " +
             ", ".join(k for k, m in result["metrics"].items() if m.get("value") is None), code=6)

    ticks_after = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the run was going
    steal = round((ticks_after[2] - ticks_before[2]) / max(1, ticks_after[0] - ticks_before[0]), 3)
    busy_after, load_after = cpu_sample(), loadavg()
    env = {"nproc": os.cpu_count(), "loadavg_start": load_before, "loadavg_end": load_after,
           "cpu_busy_start": busy_before, "cpu_busy_end": busy_after, "cpu_steal_share": steal,
           # other work on the host before or after the run, or CPU taken by
           # other guests during it: the figures of this run are not
           # comparable with those of an idle host
           "contended": busy_before > 0.25 or busy_after > 0.25 or steal > 0.05,
           "git_head": git_head(), "source_sha256": digest, "workload": args.workload,
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
           "cdc_offered_events_per_s": args.cdc_offered_rate}
    print("# run " + json.dumps(env), flush=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
