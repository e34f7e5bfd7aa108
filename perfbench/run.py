#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source with sbt (once per source change), runs one workload in a fresh JVM
with its own temp and Spark local dirs under .perfbench_run/, deletes them
afterwards, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. Progress and diagnostics go to stderr.
--detail FILE also writes the JVM's full record (percentile sample counts,
per-kind medians, set-up times, failures) to FILE.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
DATA = os.path.join(BENCH, "data", "sf0.01")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
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


def build():
    """Compile engine + harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources (src/main/scala) not found next to perfbench/")
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_hash()
        if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
            with open(STAMP) as fh:
                if fh.read().strip() == digest:
                    return
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        print("[perfbench] building engine + harness with sbt ...", file=sys.stderr)
        t0 = time.time()
        log_path = os.path.join(TARGET, "build.log")
        with open(log_path, "w") as log:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                    cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not os.path.exists(CLASSPATH):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            die(f"build failed (exit {rc})")
        with open(STAMP, "w") as fh:
            fh.write(digest)
        print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    return spec, [(m["name"], m["unit"]) for m in spec[key]]


def run_jvm(args, run_dir, out):
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--run-dir", run_dir, "--out", out]
    # GRAFT_STORE_DIR stays unset so store_durable takes its default path
    # (under the fresh tmpdir); Spark's local dirs come from spark.local.dir.
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_STORE_DIR", "SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"benchmark JVM failed ({rc})", 3)
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--detail", help="also write the JVM's full record here")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found at the repository root")
    spec, wanted = expected_metrics(args.trace)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload!r}")
    build()
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rec = run_jvm(args, run_dir, os.path.join(run_dir, "result.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    got = rec["metrics"]
    missing = [n for n, u in wanted if n not in got or got[n]["unit"] != u]
    if missing:
        die(f"metrics missing or with the wrong unit: {missing}", 4)
    if args.detail:
        with open(args.detail, "w") as fh:
            json.dump(rec, fh, indent=1)
    for f in rec.get("failures", []):
        print(f"[perfbench] failure: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(rec["correct"]),
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {n: {"value": got[n]["value"], "unit": u} for n, u in wanted},
    }))


if __name__ == "__main__":
    main()
