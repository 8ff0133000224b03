#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and the tracing overhead.

Usage: python3 perfbench/spread.py [--seeds N] [--first-seed S] [--overhead] [workload ...]

Runs each workload (default: all in BENCHMARK.json) once per seed, untraced,
for BENCHMARK.json's run_seconds, and prints for every end-to-end metric its
median and its quartile spread (Q3 - Q1, from statistics.quantiles(n=4)) as
a share of the median, next to the metric's bound. With --overhead each seed
also gets a traced run right after the untraced one, and the median of
(traced - untraced) is printed per metric: the tracing overhead. A run that
reports a failure or exits non-zero is listed and left out of the figures.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(config, workload, seed, trace):
    cmd = [sys.executable, *config["command"][1:], "--workload", workload, "--seed", str(seed),
           "--seconds", str(config["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if res is None or res["failed"]:
        print(f"{workload} seed {seed} trace {trace}: exit {p.returncode}, result {res}")
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        config = json.load(f)
    workloads = a.workloads or [w["name"] for w in config["workloads"]]
    for w in workloads:
        values = {m["name"]: [] for m in config["end_to_end"]}
        overhead = {m["name"]: [] for m in config["end_to_end"]}
        took = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            got = run(config, w, seed, 0)
            took.append(time.time() - t0)
            if got is None:
                continue
            for k, v in got.items():
                values[k].append(v)
            print(f"{w} seed {seed}: {took[-1]:.0f} s " +
                  " ".join(f"{k}={v:.4g}" for k, v in got.items()), flush=True)
            traced = run(config, w, seed, 1) if a.overhead else None
            if traced is not None:
                for k in overhead:
                    overhead[k].append(traced[f"traced.{k}"] - got[k])
        print(f"== {w}: {len(took)} runs, {statistics.mean(took):.1f} s per untraced run")
        for m in config["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 2:
                continue
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            line = (f"   {m['name']:<16} median {med:<12.5g} spread {(q3 - q1) / med:6.3f}"
                    f"  bound {m['bound']}")
            if overhead[m["name"]]:
                d = statistics.median(overhead[m["name"]])
                line += f"  tracing overhead {d:+.4g} {m['unit']} ({d / med:+.1%})"
            print(line, flush=True)


if __name__ == "__main__":
    main()
