#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <verifyOutDir> <sfDir>

Runs each oracle_sql.json entry in DuckDB against the sfDir parquet
tables, loads the Spark-written parquet from <verifyOutDir>/<name>/,
sorts columns by name, sorts rows, and compares values. Each oracle's
DuckDB wall time is printed on its PASS/FAIL line, and their total at
the end. Dev tool only —
NOT part of the library (the driver has its own copy of this logic).
"""
import glob
import json
import math
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    oracle_s = 0.0
    import os
    # manifest of queries Verify ATTEMPTED: absent-from-manifest means
    # a deliberate SPARK_GRAFT_ONLY subset (skip); attempted-but-no-
    # output means the query crashed (fail). Older dumps without a
    # manifest treat every oracle entry as attempted.
    manifest_path = f"{out_dir}/attempted.txt"
    attempted = None
    if os.path.exists(manifest_path):
        attempted = set(open(manifest_path).read().split())
    # full registry: an oracle key matching NO query name is a typo or
    # a dangling oracle for a removed query -- FAIL, never skip
    all_path = f"{out_dir}/all_queries.txt"
    all_queries = None
    if os.path.exists(all_path):
        all_queries = set(open(all_path).read().split())
    # why an attempted query has no output: Verify records the
    # exception of every query that threw
    failures_path = f"{out_dir}/failures.json"
    failures = {}
    if os.path.exists(failures_path):
        failures = json.load(open(failures_path))
    for name, sql in sorted(oracle.items()):
        if all_queries is not None and name not in all_queries:
            print(f"FAIL {name}: oracle key matches no registered query")
            n_fail += 1
            continue
        if attempted is not None and name not in attempted:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            if name in failures:
                print(json.dumps(failures[name], indent=2))
            n_fail += 1
            continue
        t0 = time.perf_counter()
        try:
            odf, err = con.sql(sql).df(), None
        except Exception as e:
            odf, err = None, e
        took = time.perf_counter() - t0
        oracle_s += took
        timed = f"oracle {took:.2f} s"
        if err is not None:
            print(f"FAIL {name}: oracle SQL error: {err} ({timed})")
            n_fail += 1
            continue
        sdf = con.sql(
            f"SELECT * FROM read_parquet({files!r})").df()
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            print(f"FAIL {name}: schema {scols} vs oracle {ocols}"
                  f" ({timed})")
            n_fail += 1
            continue
        orows = sorted([tuple(norm(v) for v in r)
                        for r in odf[ocols].itertuples(index=False)])
        srows = sorted([tuple(norm(v) for v in r)
                        for r in sdf[ocols].itertuples(index=False)])
        if len(orows) != len(srows):
            print(f"FAIL {name}: rows {len(srows)} vs oracle {len(orows)}"
                  f" ({timed})")
            n_fail += 1
        elif orows != srows:
            diff = [(s, o) for s, o in zip(srows, orows) if s != o]
            print(f"FAIL {name}: {len(diff)} mismatched rows; first: "
                  f"spark={diff[0][0]} oracle={diff[0][1]} ({timed})")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {timed})")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, oracles {oracle_s:.2f} s ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
