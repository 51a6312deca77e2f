#!/usr/bin/env python3
"""Runs one workload of graft's benchmark and prints its result.

    python3 perfbench/run.py --workload serve_miss --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark first when their sources changed
(build.py), then runs the workload in one JVM. The last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The lines before it give the seed, nproc, JVM heap and any
failed checks. Logs and traces go to .bench_build/ in the checkout.

Options beyond the four above:
    --data DIR         tables to read instead of the generated ones
    --write-pins FILE  write the query_mix pins this run measured to FILE
    --race             instead of the workload, send identical exports from
                       every client at once, the program's known race, and
                       print how many came back failing their check
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve_miss", "query_mix")
# The JVM must end within 180 s of the build; a build before it may add to that.
RUN_TIMEOUT_S = 170


def heap_size():
    """A quarter of the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        gib = kb // (4 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{min(4, max(2, gib))}g"


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(before, after):
    """Share of CPU time the host gave to other guests between two readings.
    Other tenants of a shared host slow every timed metric; this tells such
    runs apart."""
    if not before or not after or after[1] == before[1]:
        return None
    return round(100.0 * (after[0] - before[0]) / (after[1] - before[1]), 2)


def catalog(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data")
    ap.add_argument("--write-pins")
    ap.add_argument("--race", action="store_true")
    a = ap.parse_args()
    try:
        jars = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    heap = heap_size()
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    data = os.path.abspath(a.data) if a.data else build.DATA
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data,
            "--work", work, "--nproc", str(nproc), "--out", out,
            "--pins", os.path.join(build.HERE, "pins.tsv")]
    if a.write_pins:
        args += ["--write-pins", os.path.abspath(a.write_pins)]
    if a.race:
        tag = f"race-seed{a.seed}"
        args = ["--mode", "race", "--seed", str(a.seed), "--data", data, "--work", work,
                "--nproc", str(nproc), "--out", out]
    log = os.path.join(build.LOGS, f"{tag}.log")
    ticks0 = cpu_times()
    with open(log, "w") as lf:
        p = subprocess.Popen(build.java_cmd(jars, heap, work, args), stdout=lf,
                             stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            print(f"perfbench: {tag} did not finish in {RUN_TIMEOUT_S} s; log {log}", file=sys.stderr)
            return 3
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        print(f"perfbench: {tag} exited {code}; log {log}:\n{tail}", file=sys.stderr)
        return 4

    host_steal_pct = steal_pct(ticks0, cpu_times())
    with open(out) as f:
        res = json.load(f)
    if a.race:
        print("race " + json.dumps(res))
        return 0
    want = catalog(a.trace)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        print(f"perfbench: metrics differ from BENCHMARK.json: missing "
              f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, units "
              f"{sorted(k for k in set(got) & set(want) if got[k] != want[k])}", file=sys.stderr)
        return 5

    info = dict(res["info"], heap=heap, log=os.path.relpath(log, build.ROOT),
                host_steal_pct=host_steal_pct)
    print("info " + json.dumps(info, sort_keys=True))
    for f in res["failures"]:
        print("failure " + f)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
