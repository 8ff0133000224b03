#!/usr/bin/env python3
"""Self-test of the benchmark.

Usage: python3 perfbench/selftest.py

1. Runs every workload once untraced and once traced at tiny size (small
   relay inputs, a 3-second window, the sf0.001 catalog fixture) and checks
   that the result line has exactly the contract's keys, that every metric
   BENCHMARK.json names is printed with its unit and a number, that the
   end-to-end values are positive, and that nothing failed (error_rate 0).
2. Checks that the failure checks fire: a sender that drops records makes
   relay_backlog report failures, and a corrupted query result makes
   catalog_mix report one.
3. Checks that a directory holding only BENCHMARK.json and the benchmark
   exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def run(*args, cwd=ROOT, script=RUN):
    p = subprocess.run([sys.executable, script, *args], cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return p.returncode, last, p.stderr


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    return bool(cond)


def check_result(config, workload, trace, rc, res):
    ok = expect(rc == 0 and res is not None, f"{workload} trace {trace}: exit 0 with a result")
    if not ok:
        return False
    ok &= expect(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                 f"{workload} trace {trace}: result keys")
    ok &= expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                 f"{workload} trace {trace}: correct, 0 of {res['attempted']} failed")
    wanted = config["per_layer"] if trace else config["end_to_end"]
    got = res["metrics"]
    ok &= expect(sorted(got) == sorted(m["name"] for m in wanted),
                 f"{workload} trace {trace}: the {len(wanted)} metrics BENCHMARK.json names")
    ok &= expect(all(isinstance(got[m["name"]]["value"], (int, float)) and
                     got[m["name"]]["unit"] == m["unit"] for m in wanted if m["name"] in got),
                 f"{workload} trace {trace}: every value is a number with its unit")
    if trace:
        ok &= expect(got.get("error_rate", {}).get("value") == 0, f"{workload}: error_rate 0")
    else:
        ok &= expect(all(v["value"] > 0 for v in got.values()),
                     f"{workload}: every end-to-end value is positive")
    return ok


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        config = json.load(f)
    ok = True
    for w in (w["name"] for w in config["workloads"]):
        for trace in (0, 1):
            rc, res, err = run("--workload", w, "--seed", "1", "--seconds", "3",
                               "--trace", str(trace), "--size", "tiny")
            if not check_result(config, w, trace, rc, res):
                ok = False
                print(err[-3000:], file=sys.stderr)

    rc, res, _ = run("--workload", "relay_backlog", "--seed", "1", "--seconds", "3",
                     "--trace", "0", "--size", "tiny", "--inject", "drop")
    ok &= expect(rc == 0 and res and res["failed"] > 0 and res["correct"] is False,
                 "a sender that drops records is reported as failures")
    rc, res, _ = run("--workload", "catalog_mix", "--seed", "1", "--seconds", "3",
                     "--trace", "1", "--size", "tiny", "--inject", "corrupt")
    ok &= expect(rc == 0 and res and res["failed"] == 1 and
                 res["metrics"]["error_rate"]["value"] > 0,
                 "a corrupted query result is reported as one failure")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    rc, res, _ = run("--workload", "relay_backlog", "--seed", "1", "--seconds", "3",
                     "--trace", "0", cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
    ok &= expect(rc != 0 and res is None, "without the library sources it exits non-zero")
    shutil.rmtree(bare, ignore_errors=True)

    print("self-test " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
