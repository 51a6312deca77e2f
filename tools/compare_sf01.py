#!/usr/bin/env python3
"""Whole-oracle sf0.1 value-verification sweep.

The driver's gate runs at sf0.01; this tool replays EVERY oracle in
DuckDB at sf0.1 — 10x the gated scale — and value-compares against the
Spark parquet dumped by `graft.Verify <SF_DIR> <OUT_DIR>`,
with the same comparator as tools/compare.py (`compare.check`).
Each oracle runs in its own subprocess with a wall-clock budget, so the
documented DuckDB-heavy class (quadratic replay CTEs: the kNN-edge /
pagerank convention) reports TIMEOUT loudly instead of hanging the
sweep; a timeout is a DUCKDB-SIDE bound, not a correctness statement —
those queries stay gated at sf0.01 where their oracles are feasible.

Usage:
  python3 tools/compare_sf01.py [SF_DIR] [OUT_DIR] [--timeout SECS]

Prints one line per oracle (PASS/FAIL/TIMEOUT/ERROR) and a summary.
Exit 1 iff any FAIL or ERROR (timeouts don't gate).
"""
import json
import multiprocessing as mp
import sys


def run_one(sf_dir, out_dir, name, sql, q):
    try:
        from compare import check, connect
        ok, detail = check(connect(sf_dir), out_dir, name, sql)
        q.put(("PASS" if ok else "FAIL", detail))
    except Exception as e:  # noqa: BLE001
        q.put(("ERROR", str(e)[:160]))


def main(argv):
    import argparse
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("out_dir", nargs="?", default="/tmp/verify_sf01_full")
    ap.add_argument("--timeout", type=float, default=120.0)
    ap.add_argument("--only", default=None,
                    help="comma-separated oracle names")
    ns = ap.parse_args(argv)
    sf_dir, out_dir, timeout = ns.sf_dir, ns.out_dir, ns.timeout
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    only = set(ns.only.split(",")) if ns.only else None
    if only:
        unknown = only - set(oracle)
        if unknown:
            raise SystemExit(f"--only names unknown oracles: {unknown}")
        oracle = {k: v for k, v in oracle.items() if k in only}
    counts = {"PASS": 0, "FAIL": 0, "TIMEOUT": 0, "ERROR": 0}
    for name in sorted(oracle):
        q = mp.Queue()
        p = mp.Process(target=run_one,
                       args=(sf_dir, out_dir, name, oracle[name], q))
        p.start()
        p.join(timeout)
        if p.is_alive():
            p.terminate()
            p.join()
            status, detail = "TIMEOUT", f"> {timeout:.0f}s (DuckDB side)"
        else:
            status, detail = q.get() if not q.empty() else (
                "ERROR", "subprocess died without a result")
        counts[status] += 1
        print(f"{status} {name}: {detail}", flush=True)
    print(f"\n{counts['PASS']} pass, {counts['FAIL']} fail, "
          f"{counts['TIMEOUT']} timeout, {counts['ERROR']} error "
          f"of {len(oracle)} oracles at {sf_dir}")
    return 1 if counts["FAIL"] or counts["ERROR"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
