#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/selftest.py

1. Builds, then runs the Scala self-test (perfbench.SelfTest): the XES body
   check, a truncated 200 counted as a failed request, the expectation
   arithmetic, the clients' disjoint request shares, quantiles, and
   metric-name syntax.
2. Checks that BENCHMARK.json lists exactly the metrics the benchmark
   reports, with the same units, and keeps to the file's format limits.
3. Checks that run.py fails without printing a result in a directory that
   holds only BENCHMARK.json and this package (no program to build).
"""

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}$")


def check(cond, what):
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def scala_selftest(jars):
    work = os.path.join(build.BUILD, "work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    p = subprocess.run(build.java_cmd(jars, "1g", work, ["--mode", "selftest"]),
                       cwd=work, capture_output=True, text=True, timeout=300)
    print(p.stdout.strip().splitlines()[0] if p.stdout.strip() else p.stderr[-2000:])
    check(p.returncode == 0, "Scala self-test passes")
    return json.loads(p.stdout.strip().splitlines()[-1])


def benchmark_json(catalog):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check(set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
          "BENCHMARK.json has exactly the six keys")
    for kind in ("end_to_end", "per_layer"):
        declared = [(m["name"], m["unit"]) for m in spec[kind]]
        reported = [(m["name"], m["unit"]) for m in catalog[kind]]
        check(declared == reported, f"{kind} metrics and units match what the benchmark reports")
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    check(all(NAME.match(n) for n in names) and len(names) == len(set(names)), "names are valid and unique")
    check(all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"]), "units are valid")
    check(all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
              for m in spec["end_to_end"]), "end-to-end metrics carry a bound of at most 0.25")
    check(all(set(m) == {"name", "unit", "better"} and m["better"] in ("higher", "lower")
              for m in spec["per_layer"]), "per-layer metrics have name, unit and better only")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    check(setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
          and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"]),
          "setup_s is in seconds, lower is better, with the largest bound")
    check(all(set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
              for w in spec["workloads"]) and 2 <= len(spec["workloads"]) <= 8,
          "workloads have a name and a one-line why")
    check(isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60, "run_seconds is 1..60")
    check(spec["paths"] == ["perfbench"] and spec["command"][:2] == ["python3", "perfbench/run.py"],
          "command and paths name this package")
    check(len(json.dumps(spec)) <= 64 * 1024, "BENCHMARK.json is at most 64 KiB")
    return spec


def bare_directory(spec):
    with tempfile.TemporaryDirectory(dir=build.BUILD) as d:
        shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), d)
        shutil.copytree(build.HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        w = spec["workloads"][0]["name"]
        p = subprocess.run(spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                              "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
        check(p.returncode != 0 and not p.stdout.strip(),
              "run.py fails without a result where there is no program")


def main():
    jars = build.build()
    catalog = scala_selftest(jars)
    spec = benchmark_json(catalog)
    bare_directory(spec)
    print("selftest passed")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"FAIL {e}", file=sys.stderr)
        sys.exit(1)
