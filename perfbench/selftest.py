#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py [--workloads a,b] [--seed N]

Run from the repository root. It checks BENCHMARK.json against the
benchmark contract (keys, names, units, bounds), then runs every workload
once untraced and once traced through run.py and checks that:

- the last stdout line is one JSON object with exactly `correct`,
  `attempted`, `failed` and `metrics`, correct is true and nothing failed;
- every metric of BENCHMARK.json is emitted with its unit (end_to_end
  untraced, per_layer traced), as a finite number, end-to-end ones non-zero;
- every percentile the run reports carries its sample count, and a tail
  percentile (above the median) has at least 10 samples beyond it.

Exits non-zero on the first workload that fails any check.
"""
import argparse
import json
import math
import os
import re
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MIN_BEYOND = 10


def check_spec(spec):
    errs = []
    if set(spec) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        errs.append(f"top-level keys {sorted(spec)}")
    if not (1 <= len(spec["paths"]) <= 16):
        errs.append("paths: 1 to 16 entries")
    for p in spec["paths"]:
        if not re.match(r"^[A-Za-z0-9_./-]{1,200}$", p) or p.startswith("/") or ".." in p.split("/"):
            errs.append(f"path {p!r}")
    cmd = spec["command"]
    if not (1 <= len(cmd) <= 32) or any(len(c) > 200 or c.startswith("/") or ".." in c for c in cmd):
        errs.append("command")
    if not (isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60):
        errs.append("run_seconds")
    if not (2 <= len(spec["workloads"]) <= 8):
        errs.append("workloads: 2 to 8")
    names = []
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or "\n" in w["why"] or len(w["why"]) > 200:
            errs.append(f"workload {w}")
        names.append(w["name"])
    if not (1 <= len(spec["end_to_end"]) <= 16) or not (1 <= len(spec["per_layer"]) <= 128):
        errs.append("metric counts")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not (0 < m["bound"] <= 0.25):
            errs.append(f"end_to_end {m}")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            errs.append(f"per_layer {m}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        names.append(m["name"])
        if not UNIT.match(m["unit"]) or m["better"] not in ("higher", "lower"):
            errs.append(f"metric {m}")
    bad = [n for n in names if not NAME.match(n)]
    dup = sorted({n for n in names if names.count(n) > 1})
    if bad or dup:
        errs.append(f"names: bad {bad}, duplicated {dup}")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        errs.append("setup_s must be an end_to_end metric in s, lower is better")
    elif setup[0]["bound"] < max(m["bound"] for m in spec["end_to_end"]):
        errs.append("setup_s should carry the largest bound")
    if len(json.dumps(spec)) > 64 * 1024:
        errs.append("file over 64 KiB")
    return errs


def check_run(spec, workload, seed, trace):
    errs = []
    with tempfile.NamedTemporaryFile(suffix=".json", dir=BENCH, delete=False) as tf:
        detail = tf.name
    try:
        cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(trace), "--detail", detail]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=1000)
        if p.returncode != 0:
            return [f"run.py exited {p.returncode}: {p.stderr[-2000:]}"]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        with open(detail) as fh:
            rec = json.load(fh)
    finally:
        os.unlink(detail)
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(out)}")
    if out.get("correct") is not True or out.get("failed") != 0 or out.get("attempted", 0) < 1:
        errs.append(f"correct={out.get('correct')} failed={out.get('failed')} "
                    f"attempted={out.get('attempted')}: {rec.get('failures')}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = out.get("metrics", {})
    if set(got) != {m["name"] for m in wanted}:
        errs.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        g = got.get(m["name"])
        if g is None or g.get("unit") != m["unit"]:
            errs.append(f"{m['name']}: missing or unit {g and g.get('unit')} != {m['unit']}")
            continue
        v = g.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{m['name']}: value {v!r}")
        elif not trace and v <= 0:
            errs.append(f"{m['name']}: end-to-end value {v} is not positive")
    for name, pc in rec.get("percentiles", {}).items():
        if pc.get("samples", 0) < 1 or (pc.get("p", 100) > 50 and pc.get("beyond", 0) < MIN_BEYOND):
            errs.append(f"percentile {name}: {pc.get('samples')} samples, "
                        f"{pc.get('beyond')} beyond it (need {MIN_BEYOND})")
    return errs


def main():
    ap = argparse.ArgumentParser(description="self-test of the benchmark")
    ap.add_argument("--workloads", help="comma-separated subset (default: all)")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errs = check_spec(spec)
    if errs:
        sys.exit("BENCHMARK.json: " + "; ".join(errs))
    names = [w["name"] for w in spec["workloads"]]
    if args.workloads:
        names = [n for n in names if n in args.workloads.split(",")]
    failed = False
    for w in names:
        for trace in (0, 1):
            errs = check_run(spec, w, args.seed, trace)
            status = "ok" if not errs else "FAIL"
            print(f"{w} trace={trace}: {status}")
            for e in errs:
                print(f"  - {e}")
            failed |= bool(errs)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
