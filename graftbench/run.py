#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage (from the repository root):
    python3 graftbench/run.py --workload event_store --seed 1 --seconds 10 --trace 0

Builds the engine together with the harness (sbt, once per source state),
starts one pinned JVM for the run, and prints two lines: a detail JSON
object (the workload's own metrics, launch settings, host and JVM context)
and, last, the result object {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics. See README.md in this directory.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
HEAP = "4g"
DEADLINE_S = 175  # a run must end within 180 s; the first one may also build
BUILD_DEADLINE_S = 850
# JDK 17 module opens Spark needs outside spark-submit (as in the root build)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]
# engine tuning knobs that must stay at their defaults for comparable runs
UNSET_ENV = ("SPARK_GRAFT_WIDEN", "SPARK_GRAFT_OPENCOST", "SPARK_GRAFT_MINPART",
             "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEM")


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def wait_child(proc_pid, deadline):
    """Wait for a child; kill its process group at the deadline.
    Returns (exit code or None on timeout, peak RSS in MB)."""
    while True:
        pid, status, ru = os.wait4(proc_pid, os.WNOHANG)
        if pid:
            return os.waitstatus_to_exitcode(status), ru.ru_maxrss / 1024.0
        if time.monotonic() > deadline:
            os.killpg(proc_pid, signal.SIGKILL)
            os.wait4(proc_pid, 0)
            return None, 0.0
        time.sleep(0.1)


def spawn(cmd, cwd, out_path, err_path, env=None):
    with open(out_path, "wb") as out, open(err_path, "wb") as err:
        return subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=err, stdin=subprocess.DEVNULL,
                                env=env, start_new_session=True).pid


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(start):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from a full checkout of the repository")
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    for f in (cp_file, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(TARGET, "build.log")
    pid = spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], HERE, log, log)
    rc, _ = wait_child(pid, start + BUILD_DEADLINE_S)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}):\n{tail(log)}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["event_store", "read_side"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    built_before = os.path.exists(os.path.join(TARGET, "classpath.txt"))
    cp = build(start)
    deadline = time.monotonic() + DEADLINE_S if built_before else start + BUILD_DEADLINE_S

    run_dir = os.path.join(TARGET, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(TARGET, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -UsePerfData: no hsperfdata file in the system temp directory
    jvm_opts = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
                "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    cmd = [java, *jvm_opts, *ADD_OPENS, "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cpus", str(cpus), "--run-dir", run_dir,
           "--digests", os.path.join(HERE, "gate_digests.json"), "--out", result_path,
           "--spans", spans_path]
    env = {k: v for k, v in os.environ.items() if k not in UNSET_ENV}
    err_log = os.path.join(TARGET, f"jvm-{args.workload}-{args.seed}.log")
    try:
        pid = spawn(cmd, ROOT, os.path.join(run_dir, "stdout.log"), err_log, env)
        rc, rss_mb = wait_child(pid, deadline)
        if rc != 0:
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail(err_log)}")
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        layers = {k: v["value"] for k, v in res["layers"].items()}
        layers["jvm.peak_rss_mb"] = rss_mb
        plain, traced = res["e2e"]["throughput_per_s"], res["traced_e2e"]["throughput_per_s"]
        layers["trace.overhead_pct"] = 100.0 * (plain - traced) / plain
        values = layers
    else:
        values = res["e2e"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": res["named"], "shared_metrics": res["e2e"],
        "setup_runs_wall_s": res["setup_runs_wall_s"], "setup_runs_cpu_s": res["setup_runs_cpu_s"],
        "context": {**res["context"], "jvm.peak_rss_mb": rss_mb},
        "failures": res["failures"],
        "launch": {**res["launch"], "jvm_options": jvm_opts, "cpus": cpus,
                   "unset_env": list(UNSET_ENV)},
    }
    if args.trace:
        detail["layers"] = res["layers"]
        detail["trace_overhead"] = res["trace_overhead"]
        detail["spans"] = os.path.relpath(spans_path, ROOT)
    print(json.dumps(detail))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
