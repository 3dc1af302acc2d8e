#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
harness from source (sbt, offline) into .bench_build/; later calls reuse
the build until a source file changes. Each run starts one JVM, waits for
it, and prints its stdout: one JSON line per metric and, last, the summary
object {"correct", "attempted", "failed", "metrics"}.

A traced run (--trace 1) reports per-layer metrics instead of end-to-end
ones and writes its spans to .bench_build/traces/. Its
trace.overhead_ratio compares its latency_geomean_ms with untraced runs of the
same workload, making one first when none has been recorded.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ["registry", "store"]
# A call must finish within this many seconds after its build, including
# the untraced run a traced call may need first.
RUN_BUDGET_S = 175
BUILD_TIMEOUT_S = 840
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return files


def build():
    """Compile engine + harness unless the classpath file is newer than every source."""
    if not os.path.isdir(ENGINE):
        fail(f"engine sources not found under {os.path.relpath(ENGINE, ROOT)}; "
             "run from the root of a full checkout")
    if os.path.exists(CLASSPATH) and \
            os.path.getmtime(CLASSPATH) >= max(os.path.getmtime(f) for f in sources()):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:  # the Spark jars the engine compiles against
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false", "writeClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log})")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")


_deadline = None


def jvm(args, tag, extra_jvm=()):
    """Run perfbench.Main (or another main) in a fresh JVM; returns stdout lines."""
    global _deadline
    if _deadline is None:
        _deadline = time.monotonic() + RUN_BUDGET_S
    timeout = _deadline - time.monotonic()
    with open(CLASSPATH) as f:
        cp = ":".join(line.strip() for line in f if line.strip())
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *extra_jvm, "-cp", cp, *args, "--bench-dir", BENCH, "--work-dir", work]
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        fail(f"{tag}: no result within {RUN_BUDGET_S}s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{tag}: JVM exited with {r.returncode}")
    return r.stdout.splitlines()


def summary(lines):
    last = json.loads(lines[-1])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed summary line")
    return last


def untraced_headline(workload, seed, seconds):
    """latency_geomean_ms of recorded untraced runs: the same seed's if there is
    one, else the median over seeds; runs one untraced pass if none exist."""
    d = os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    runs = {}
    for n in os.listdir(d):
        if n.startswith(workload + "-seed") and n.endswith("-trace0.json"):
            with open(os.path.join(d, n)) as f:
                runs[n] = json.load(f)["metrics"]["latency_geomean_ms"]["value"]
    own = f"{workload}-seed{seed}-trace0.json"
    if own in runs:
        return runs[own]
    if runs:
        return statistics.median(runs.values())
    return run_workload(workload, seed, seconds, 0)[0]["metrics"]["latency_geomean_ms"]["value"]


def run_workload(workload, seed, seconds, trace, extra=()):
    """One run: launches the JVM, records the summary under .bench_build/results."""
    tag = f"{workload}-seed{seed}-trace{trace}"
    lines = jvm(["perfbench.Main", "--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace), *extra], tag)
    if not lines:
        fail(f"{tag}: no output")
    result = summary(lines)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
        json.dump(result, f)
    return result, lines


def main():
    # on SIGTERM, unwind: subprocess.run then kills and reaps the JVM and
    # the finally blocks remove its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="rewrite perfbench/expected/<workload>.json from the current engine")
    a = ap.parse_args()
    build()
    if a.record_expected:
        for line in jvm(["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", "0", "--record-expected"],
                        f"{a.workload}-record"):
            print(line)
        return
    extra = []
    if a.trace:
        extra = ["--untraced-headline", repr(float(untraced_headline(a.workload, a.seed, a.seconds))),
                 "--trace-file", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    _, lines = run_workload(a.workload, a.seed, a.seconds, a.trace, extra)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
