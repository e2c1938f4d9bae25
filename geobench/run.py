#!/usr/bin/env python3
"""Runs one geobench workload (building the benchmark first if needed).

    python3 geobench/run.py --workload pip_tile --seed 1 --seconds 15 --trace 0
    python3 geobench/run.py --workload all --seconds 15   # every workload in turn
    python3 geobench/run.py --smoke

The last stdout line is the result JSON: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Run records and span files are written to
.bench_build/geobench-out; the scratch directory of a run is removed at exit.
"""
import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["pip_tile", "geom_codec", "knn_rings", "snapshot_upsert"]
TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()
    if not a.smoke and not a.workload:
        p.error("--workload or --smoke is required")
    cp, archive = build.build()
    if a.workload == "all":
        sys.exit(max(run(cp, archive, a, w) for w in WORKLOADS))
    sys.exit(run(cp, archive, a, a.workload))


def run(cp, archive, a, workload):
    """One benchmark JVM; returns its exit code."""
    bench_dir = os.path.join(ROOT, ".bench_build")
    name = "smoke" if a.smoke else f"{workload}-{a.seed}-{a.trace}"
    work = os.path.join(bench_dir, "work", f"{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(cp, f"-XX:SharedArchiveFile={archive}", tmp) + [
        "--work", work, "--out", os.path.join(bench_dir, "geobench-out")]
    if a.smoke:
        cmd += ["--smoke", "--seed", str(a.seed)]
    else:
        cmd += ["--workload", workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"geobench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    return code


if __name__ == "__main__":
    main()
