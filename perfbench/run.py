#!/usr/bin/env python3
"""The osmiumspark benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source tree. Builds the engine and the harness with
sbt on first use (into .bench_build/), runs one workload in one JVM at
local[nproc], checks every output, and prints the run's stamp and then, as
the last line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. See README.md.

    python3 perfbench/run.py --record

re-records expected/queries.json from the current engine.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", "queries.json")
WORKLOADS = ("spatial_tile", "short_mix")
HEAP = "3g"
# A fixed heap and the parallel collector keep GC pauses and resident memory
# alike from run to run (no heap growth, no concurrent GC threads beside the
# four task threads); lower compile thresholds let the JIT settle on the
# driver's planning code within a short run; no perf-data file is written
# outside the checkout.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.25", "-XX:-UsePerfData"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(code, msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, log, cwd=ROOT):
    """Runs cmd in its own process group; kills the whole group on timeout
    or interruption and waits for it. Returns the exit code (None on timeout).
    """
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(src_hash):
    """Compiles with sbt unless the build of these exact sources exists."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == src_hash:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                     BUILD_TIMEOUT_S, log, cwd=BENCH)
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die(3, f"build failed (exit {code}); log in {log}")
    with open(stamp, "w") as f:
        f.write(src_hash)
    return open(cp_file).read().strip()


def jvm(cp, args, tag):
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
        "--data", DATA, "--work", work, "--expected", EXPECTED, "--out", out] + args
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    code = run_child(cmd, RUN_TIMEOUT_S, log)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        die(4, f"benchmark JVM failed (exit {code}); log in {log}")
    with open(out) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(2, f"no engine sources under {ROOT}/src/main/scala; run from a full source tree")
    os.makedirs(BUILD, exist_ok=True)
    src = source_hash()
    cp = build(src)

    if a.record:
        dump = os.path.join(BUILD, "record")
        rec = jvm(cp, ["--record", "1", "--dump", dump], "record")
        with open(EXPECTED, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"recorded {len(rec['queries'])} queries into {EXPECTED}; outputs in {dump}")
        return

    load_start = load1()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    raw = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace)], tag)
    if a.trace:
        values, info = metrics.per_layer(raw), {}
        trace_file = os.path.join(BUILD, "traces", f"{tag}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump({"spans": raw["spans"], "layer_self_s": metrics.layer_self_s(raw["spans"])}, f)
        info["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        values, info = metrics.end_to_end(raw)
    stamp = {"commit": commit(), "source_sha256": src, "nproc": os.cpu_count(),
             "load1_start": load_start, "load1_end": load1(), "heap_max_mb": raw["heap_max_mb"],
             "spark_version": raw["spark_version"], "master": raw["master"],
             "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "pass_wall_s": [p["wall_s"] for p in raw["passes"]], "setups_s": raw["setups_s"],
             "errors": raw["errors"], **info}
    print(json.dumps({"stamp": stamp}))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        die(5, f"metrics not measured: {missing}")
    correct, attempted, failed = metrics.verdict(raw)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                                  for m in declared}}))


if __name__ == "__main__":
    main()
