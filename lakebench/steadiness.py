#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise how steady it is.

Usage (from the repo root):

    python3 lakebench/steadiness.py --workloads lake_commit_mv,llm_curation \
        --seeds 1-10 --seconds 5 --out steady.json [--trace 0] [--label a]

For every workload it runs `lakebench/run.py` once per seed, one run at a
time, and records each run's metrics plus its LAKEBENCH_INFO line (core
count, load average, sample counts). Per metric it reports the median, the
first and third quartiles (`statistics.quantiles(values, n=4)`) and the
spread: (Q3 - Q1) / median. With --bounds it also marks each spread
against a third of the metric's bound in BENCHMARK.json. The summary is
printed and, with --out, written as JSON (appending to a list of sets).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(text):
    out = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        else:
            out.append(int(part))
    return out


def one_run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "exit": p.returncode, "wall_s": wall}
    info = next((json.loads(l.split(" ", 1)[1]) for l in lines
                 if l.startswith("LAKEBENCH_INFO ")), {})
    res = json.loads(lines[-1])
    return {"seed": seed, "exit": 0, "wall_s": wall, "info": info,
            "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def summarise(runs, bounds):
    ok = [r for r in runs if r.get("exit") == 0]
    names = sorted({k for r in ok for k in r["metrics"]})
    out = {}
    for n in names:
        vals = [r["metrics"][n] for r in ok if n in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (vals[0], None, vals[0]))
        spread = (q3 - q1) / med if med else 0.0
        row = {"median": med, "q1": q1, "q3": q3, "spread": spread,
               "n": len(vals)}
        if n in bounds:
            row["bound"] = bounds[n]
            row["within_third"] = spread <= bounds[n] / 3
        out[n] = row
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="lake_commit_mv,llm_curation")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--label", default="")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = {}
    if os.path.exists("BENCHMARK.json"):
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
    seconds = a.seconds or bench.get("run_seconds", 5)
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}
    report = {"label": a.label, "seconds": seconds, "trace": a.trace,
              "nproc": os.cpu_count(), "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds_of(a.seeds):
            r = one_run(w, s, seconds, a.trace)
            runs.append(r)
            info = r.get("info", {})
            print(f"{w} seed={s} exit={r['exit']} wall={r['wall_s']:.1f}s "
                  f"correct={r.get('correct')} failed={r.get('failed')} "
                  f"load={info.get('loadavg_start')}", flush=True)
        report["workloads"][w] = {"runs": runs,
                                  "summary": summarise(runs, bounds)}
        for n, row in report["workloads"][w]["summary"].items():
            flag = ""
            if "within_third" in row:
                flag = " ok" if row["within_third"] else " WIDE"
            print(f"  {n}: median={row['median']:.6g} "
                  f"spread={row['spread']:.3f}{flag}")
    if a.out:
        sets = []
        if os.path.exists(a.out):
            with open(a.out) as f:
                sets = json.load(f)
        sets.append(report)
        with open(a.out, "w") as f:
            json.dump(sets, f, indent=1)


if __name__ == "__main__":
    main()
