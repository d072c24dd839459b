#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB oracle compare.

Usage: check_oracle.py <sfDir> <verifyOutDir>

For each key oracle_sql.json lists (the keys graft.Verify ran): read
the Spark parquet result under verifyOutDir, run the key's oracle SQL in
DuckDB (tables registered from sfDir), sort columns by name and rows by
all values, and compare cell-by-cell. Reports rows/schema/values status
per query; a listed key with no result directory FAILS.

Tests: python3 -m unittest tools/test_check_oracle.py
"""
import json
import sys
import threading

import duckdb
import pandas as pd

# Per-oracle wall-clock budget (large-SF sweeps): a quadratic replay
# must surface as TIMEOUT, not hang the whole sweep. 0 = unlimited
# (the default, matching driver behavior at the sf0.01 gate).
import os
TIMEOUT_S = float(os.environ.get("ORACLE_TIMEOUT_S", "0"))


def run_with_timeout(con, sql: str) -> pd.DataFrame:
    if TIMEOUT_S <= 0:
        return con.execute(sql).fetchdf()
    timer = threading.Timer(TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetchdf()
    except duckdb.InterruptException:
        raise TimeoutError(f"oracle exceeded {TIMEOUT_S:.0f}s")
    finally:
        timer.cancel()

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare: timestamps -> iso strings, floats kept
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def check(con, out_dir: str, only=None):
    """Compares every key oracle_sql.json lists (exactly the keys
    graft.Verify ran) and returns (n_pass, n_fail). A listed key with no
    output directory FAILS: its query threw before writing anything.
    Directories oracle_sql.json does not list are not compared."""
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only is not None and name not in only:
            continue
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            print(f"FAIL {name}: no output directory")
            n_fail += 1
            continue
        spark_df = pd.read_parquet(path)
        try:
            duck_df = run_with_timeout(con, oracle[name])
        except TimeoutError as e:
            print(f"TIMEOUT {name}: {e}")
            n_fail += 1
            continue
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns spark={list(a.columns)} duck={list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
            n_fail += 1
            continue
        bad = []
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                eq = (av.fillna(-9e99).astype(float) - bv.fillna(-9e99).astype(float)).abs() <= 0
            else:
                eq = av.fillna("\x00").astype(str) == bv.fillna("\x00").astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                bad.append(f"{c}[row{i}]: spark={av[i]!r} duck={bv[i]!r}")
        if bad:
            print(f"FAIL {name}: {len(bad)} col diffs; first: {bad[0]}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(a)} rows, {len(a.columns)} cols exact")
            n_pass += 1
    return n_pass, n_fail


def main(sf_dir: str, out_dir: str, only=None) -> None:
    con = duckdb.connect()
    # Large-SF sweeps: without a cap DuckDB grows to physical RAM and a
    # co-running Spark JVM makes that a global OOM kill (observed at sf1:
    # python3 at 75 GB anon RSS, SIGKILL mid-sweep). Cap + spill instead.
    mem = os.environ.get("DUCKDB_MEM", "")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
        tmp = os.path.join(out_dir, ".duckdb_spill")
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
    thr = os.environ.get("DUCKDB_THREADS", "")
    if thr:
        con.execute(f"SET threads={int(thr)}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    n_pass, n_fail = check(con, out_dir, only)
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None)
