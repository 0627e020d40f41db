#!/usr/bin/env python3
"""Lakehouse benchmark of graft: one closed-loop, single-client run.

Usage (from the root of a graft checkout):

    python3 lakebench/run.py --workload lake_commit_mv --seed 1 --seconds 12 --trace 0

Workloads: lake_commit_mv, llm_curation (see lakebench/README.md).
The first run in a checkout compiles graft and the benchmark (build.py).
Each run generates its inputs from --seed, sets up several times, measures
for --seconds, checks every answer, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. A line starting with LAKEBENCH_INFO before it records the
core count, load average and sample counts of the run.

Exits non-zero without a result when graft's sources are missing, the
build fails, the run fails or it overruns its time limit.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lake_commit_mv", "llm_curation")
RUN_LIMIT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"[lakebench] {msg}\n")
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala",
                                      "graft")):
        fail("graft sources (src/main/scala/graft) not found; "
             "run from the root of a graft checkout")
    jars = build.spark_jars(root)
    if not os.path.isdir(jars) or shutil.which("java") is None:
        fail(f"needs java and Spark's jars at {jars}")

    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"), "lakebench")
    try:
        cp = build.build(root, base)
    except Exception as e:  # noqa: BLE001 - report and exit non-zero
        fail(f"build failed: {e}")

    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        "-cp", cp, "lakebench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", work,
        "--trace-out", os.path.join(
            traces, f"{a.workload}-seed{a.seed}.jsonl"),
    ]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    lines = []
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        import threading

        def pump():
            for line in proc.stdout:
                lines.append(line.rstrip("\n"))
        t = threading.Thread(target=pump, daemon=True)
        t.start()
        while proc.poll() is None:
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_LIMIT_S} s")
            time.sleep(0.2)
        t.join()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"run failed (exit {proc.returncode})")
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
