#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the same parquet tables, compare to the Spark result
parquet written by graft.Verify (canonical ordering: sort columns by
name, sort rows, then value-compare).

Usage:
  python3 tools/compare.py [SF_DIR] [OUT_DIR]

`check` is the one comparator; tools/compare_sf01.py imports it."""
import json
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def check(con, out_dir: str, name: str, sql: str) -> tuple[bool, str]:
    """Compare one oracle with the Spark output of the same name: floats
    numerically (NaN equal to NaN), every other column as strings.
    Returns (passed, detail); the detail names every mismatching column."""
    expected = canon(con.sql(sql).df())
    actual = canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
    if list(expected.columns) != list(actual.columns):
        return False, f"columns {list(actual.columns)} != {list(expected.columns)}"
    if len(expected) != len(actual):
        return False, f"rows {len(actual)} != {len(expected)}"
    # dtype-tolerant value compare (the gate compares value hashes)
    problems = []
    for c in expected.columns:
        e, a = expected[c], actual[c]
        if e.dtype.kind == "f" or a.dtype.kind == "f":
            ef, af = e.to_numpy(dtype=float), a.to_numpy(dtype=float)
            if not np.array_equal(ef, af, equal_nan=True):
                problems.append(f"col {c} float mismatch ({(ef != af).sum()} rows)")
        elif not e.astype(str).equals(a.astype(str)):
            m = (e.astype(str) != a.astype(str))
            problems.append(f"col {c} mismatch ({m.sum()} rows), e.g. "
                            f"expected={e[m].iloc[0]!r} actual={a[m].iloc[0]!r}")
    if problems:
        return False, "; ".join(problems)
    return True, f"{len(expected)} rows"


def main(argv) -> int:
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    out_dir = argv[1] if len(argv) > 1 else "/tmp/verify_out"
    con = connect(sf_dir)
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            ok, detail = check(con, out_dir, name, sql)
            if ok:
                print(f"PASS {name} ({detail})")
                n_pass += 1
            else:
                print(f"FAIL {name}: {detail}")
                n_fail += 1
        except Exception as ex:
            print(f"ERROR {name}: {ex}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
