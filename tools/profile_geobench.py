#!/usr/bin/env python3
"""Profiles one geobench workload with Java Flight Recorder and prints the
hottest frames by self samples (the frame on top of the stack) and by
inclusive samples (the frame anywhere on the stack, counted once per sample).

    python3 tools/profile_geobench.py --workload pip_tile --seed 1 --seconds 15
    python3 tools/profile_geobench.py --workload pip_tile --threads "task launch" --top 30

The JVM command is the benchmark's own (geobench/build.py, which also builds
the benchmark if needed) plus:
  -XX:+UnlockDiagnosticVMOptions -XX:+DebugNonSafepoints
      so that samples land on the inlined method that was running; without
      them they collapse onto the nearest safepoint-bearing frame (in PIP
      joins that is UnsafeRow.getInt, hiding the hash that calls it);
  a JFR repository and recording under .bench_build/profile/, outside the
      run's work directory, which the benchmark deletes when it exits.

The recording is kept as .bench_build/profile/<workload>-seed<n>.jfr for
`jfr print` or JDK Mission Control.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "geobench"))
import build  # noqa: E402
from run import WORKLOADS  # noqa: E402

PROFILE_DIR = os.path.join(ROOT, ".bench_build", "profile")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--top", type=int, default=20, help="frames per table")
    p.add_argument("--threads", default="",
                   help="count only samples of threads whose name contains this "
                        "(Spark task threads: 'task launch')")
    p.add_argument("--match", default="",
                   help="list only frames whose name contains this (e.g. 'graft.'); "
                        "shares stay relative to every counted sample")
    a = p.parse_args()

    jfr_file = record(a)
    samples = load_samples(jfr_file)
    print(f"recording: {os.path.relpath(jfr_file, ROOT)}")
    report(samples, a.threads, a.match, a.top)


def record(a):
    """Runs the workload under JFR; returns the recording's path."""
    cp, archive = build.build()
    name = f"{a.workload}-seed{a.seed}"
    repo = os.path.join(PROFILE_DIR, f"{name}-repository")
    jfr_file = os.path.join(PROFILE_DIR, f"{name}.jfr")
    work = os.path.join(ROOT, ".bench_build", "work", f"profile-{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(repo, ignore_errors=True)
    os.makedirs(repo)
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(jfr_file):
        os.remove(jfr_file)
    cmd = build.java_cmd(cp, f"-XX:SharedArchiveFile={archive}", tmp)
    cmd[1:1] = ["-XX:+UnlockDiagnosticVMOptions", "-XX:+DebugNonSafepoints",
                f"-XX:FlightRecorderOptions=repository={repo},stackdepth=256",
                f"-XX:StartFlightRecording=settings=profile,dumponexit=true,filename={jfr_file}"]
    cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "0", "--work", work, "--out", os.path.join(ROOT, ".bench_build", "geobench-out")]
    code = subprocess.run(cmd, cwd=ROOT).returncode
    shutil.rmtree(repo, ignore_errors=True)
    if not os.path.isfile(jfr_file):
        sys.exit(f"profile_geobench: no recording (benchmark exited {code})")
    if code != 0:
        print(f"profile_geobench: benchmark exited {code}; profiling what was recorded",
              file=sys.stderr)
    return jfr_file


def load_samples(jfr_file):
    """[(thread name, [frame, ...] top first)] of every execution sample;
    a frame is "class.method"."""
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ExecutionSample", jfr_file],
                         check=True, capture_output=True, text=True).stdout
    samples = []
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        frames = [f'{f["method"]["type"]["name"].replace("/", ".")}.{f["method"]["name"]}'
                  for f in ((v.get("stackTrace") or {}).get("frames") or [])]
        samples.append((thread, frames))
    return samples


def report(samples, threads, match, top):
    chosen = [f for t, f in samples if threads in t and f]
    n = len(chosen)
    scope = f"threads matching '{threads}'" if threads else "all threads"
    print(f"{n} execution samples ({scope}) of {len(samples)} in total")
    if n == 0:
        return

    self_c = collections.Counter(f[0] for f in chosen)
    incl_c = collections.Counter()
    for f in chosen:
        incl_c.update(set(f))
    for title, counter in (("self", self_c), ("inclusive", incl_c)):
        print(f"\ntop {top} frames by {title} samples")
        for lab, c in [kv for kv in counter.most_common() if match in kv[0]][:top]:
            print(f"  {100.0 * c / n:6.2f}%  {c:7d}  {lab}")


if __name__ == "__main__":
    main()
