#!/usr/bin/env python3
"""Correctness check of a graft.Verify dump: run each oracle SQL in DuckDB
over the sf tables and compare against the Spark result parquet dumped by
graft.Verify. Compares schema (column names), row count, and values
(column-name-sorted, row-sorted).

Usage: check_oracle.py <sf_dir> <out_dir> [--timeout SECONDS]

Each entry prints one line as it runs: `[i/N] name ... PASS|FAIL|TIMEOUT`.
With --timeout, an oracle query still running after that many seconds is
interrupted and reported as TIMEOUT, which is never a pass. The summary reads
`P pass, F fail, T timeout`; the exit status is 0 only when every entry
passed."""
import argparse
import glob
import json
import sys
import threading
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Timeout(Exception):
    pass


def run_limited(con, sql: str, timeout: float):
    """`con.execute(sql).fetchdf()`, interrupted after `timeout` seconds
    (no limit when `timeout` <= 0)."""
    if timeout <= 0:
        return con.execute(sql).fetchdf()
    fired = threading.Event()

    def interrupt():
        fired.set()
        con.interrupt()

    timer = threading.Timer(timeout, interrupt)
    timer.start()
    try:
        return con.execute(sql).fetchdf()
    except duckdb.InterruptException:
        if fired.is_set():
            raise Timeout()
        raise
    finally:
        timer.cancel()


def check(con, name: str, sql: str, out_dir: str, timeout: float) -> str:
    """The verdict line for one entry: `PASS …`, `FAIL …` or `TIMEOUT …`."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return "FAIL: no spark result parquet"
    spark_df = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    try:
        duck_df = run_limited(con, sql, timeout)
    except Timeout:
        return f"TIMEOUT: oracle SQL ran past {timeout:g} s"
    except Exception as e:
        return f"FAIL: oracle SQL error: {e}"
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_df.columns)
    if s_cols != d_cols:
        return f"FAIL: columns {s_cols} != {d_cols}"
    if len(spark_df) != len(duck_df):
        return f"FAIL: rows {len(spark_df)} != {len(duck_df)}"
    s = ["|".join(map(str, r)) for r in spark_df[s_cols].itertuples(index=False)]
    d = ["|".join(map(str, r)) for r in duck_df[d_cols].itertuples(index=False)]
    if sorted(s) != sorted(d):
        sset, dset = set(s), set(d)
        return (f"FAIL: value mismatch; spark-only={list(sset - dset)[:3]} "
                f"duck-only={list(dset - sset)[:3]}")
    return f"PASS ({len(spark_df)} rows)"


def main(sf_dir: str, out_dir: str, timeout: float) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    counts = {"PASS": 0, "FAIL": 0, "TIMEOUT": 0}
    names = sorted(oracles)
    for i, name in enumerate(names, 1):
        print(f"[{i}/{len(names)}] {name} ... ", end="", flush=True)
        t0 = time.monotonic()
        verdict = check(con, name, oracles[name], out_dir, timeout)
        counts[verdict.split(" ", 1)[0].rstrip(":")] += 1
        print(f"{verdict} [{time.monotonic() - t0:.1f} s]", flush=True)
    print(f"\n{counts['PASS']} pass, {counts['FAIL']} fail, {counts['TIMEOUT']} timeout")
    return 0 if counts["PASS"] == len(names) else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--timeout", type=float, default=0,
                    help="per-query DuckDB time limit in seconds (default: none)")
    a = ap.parse_args()
    sys.exit(main(a.sf_dir, a.out_dir, a.timeout))
