#!/usr/bin/env python3
"""Runs a workload once per seed and reports each metric's spread.

    python3 perfbench/spread.py --workload serve_miss --seeds 1-10

For every metric of the result line it prints the median of the runs and
the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound from BENCHMARK.json. Each run's result line is
appended to --out when given.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values, bad = {}, 0
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        info = json.loads(lines[0][len("info "):]) if lines[0].startswith("info ") else {}
        bad += not res["correct"]
        print(f"seed {seed}: {time.monotonic() - t0:.0f} s, correct={res['correct']}, "
              f"attempted={res['attempted']}, failed={res['failed']}, "
              f"host_steal_pct={info.get('host_steal_pct')}", flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(dict(res, seed=seed, workload=a.workload)) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = f"{(q3 - q1) / abs(med):.3f}"
        else:
            spread = "-"
        b = bounds.get(k)
        print(f"{k:40s} median {med:12.4f}  spread {spread:>6}  bound {b if b is not None else '-'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
