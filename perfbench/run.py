#!/usr/bin/env python3
"""Benchmark of the topic relay and the query catalog on local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: relay_backlog, relay_steady, catalog_mix (see perfbench/README.md).
The first run builds the library and the harness from source with sbt;
later runs reuse the build while the sources are unchanged. Inputs are made from --seed. One JVM runs the workload on local[nproc] and
checks the relay's deliveries; this script then checks each query result
against its DuckDB oracle, prints a box-state line and, as the last line of
standard output, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(and writes the run's spans next to its results under .bench_build/).
Runs write under <repo>/.bench_build; the build writes perfbench/target and
perfbench/project/target.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
           os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
WORKLOADS = ["relay_backlog", "relay_steady", "catalog_mix"]
QUERY_WORKLOADS = {"catalog_mix"}
FIXTURE_SF, FIXTURE_SEED = 0.001, 42
JVM_TIMEOUT_S = 170

sys.path.insert(0, BENCH)
import gen  # noqa: E402
import oracle  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    """(steal, total) jiffies of all CPUs: the hypervisor's share of the
    box during a run shows in their difference."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed since the last build."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    classpath_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(classpath_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return open(classpath_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "writeClasspath"]
    log("building: " + " ".join(cmd))
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL)
    if proc.returncode != 0 or not os.path.exists(classpath_file):
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(classpath_file).read().strip()


JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, argv, work):
    """Run the harness; returns its exit code. Killed (with its children)
    after JVM_TIMEOUT_S."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
           "-cp", classpath, "graft.perfbench.Harness", *argv]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"harness killed after {JVM_TIMEOUT_S} s")
        return -1


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--size", default="full", choices=["full", "tiny"],
                    help="tiny: small relay inputs, for the self-test")
    ap.add_argument("--inject", default="none", choices=["none", "drop", "corrupt"],
                    help="self-test faults: a sender that drops records, a corrupted result")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("library sources not found: run from a full checkout of the repository")
    cpus = os.cpu_count() or 1
    box = {"nproc": cpus, "load1_start": load1(), "seed": a.seed, "workload": a.workload,
           "trace": a.trace, "commit": git_commit(), "python": platform.python_version()}
    steal0, total0 = cpu_times()
    box["noisy"] = box["load1_start"] > cpus / 4
    if box["noisy"]:
        log(f"noisy: load1 {box['load1_start']} > cpus/4 = {cpus / 4}")
    config = bench_config()

    os.makedirs(BUILD, exist_ok=True)
    classpath = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{a.size}-{a.inject}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", os.path.join(run_dir, "work"),
                "--out", out_dir, "--size", a.size, "--inject", a.inject]
    fixture = None
    if a.workload in QUERY_WORKLOADS:
        fixture = gen.write(os.path.join(BUILD, "fixtures", oracle.fixture_id(
            FIXTURE_SF, FIXTURE_SEED)), FIXTURE_SF, FIXTURE_SEED)
        jvm_args += ["--fixture", fixture]
    t0 = time.time()
    rc = run_jvm(classpath, jvm_args, run_dir)
    log(f"harness ran {time.time() - t0:.1f} s")
    result_file = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        raise SystemExit(f"harness failed (exit {rc})")
    with open(result_file) as f:
        res = json.load(f)
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    e2e, layers = res["e2e"], res["layers"]
    if fixture is not None:
        rows, mismatches = oracle.check(fixture, res["checked"], os.path.join(out_dir, "results"),
                                        os.path.join(BUILD, "oracle"))
        for m in mismatches:
            log(f"failure: {m}")
        failed += len(mismatches)
        e2e["records_per_s"] = rows / e2e["wall_s"]
        if layers:
            layers["traced.records_per_s"] = rows / layers["traced.wall_s"]
    if layers:
        layers["error_rate"] = failed / attempted

    box.update(res["box"])
    box["load1_end"] = load1()
    steal1, total1 = cpu_times()
    box["steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    box["latency_samples"] = res["latency_samples"]
    box["spans"] = res["spans"]
    print(json.dumps({"box": box}), flush=True)

    wanted = config["per_layer"] if a.trace else config["end_to_end"]
    values = layers if a.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"harness did not report {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
