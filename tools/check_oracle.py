#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify, runs the matching oracle SQL in
DuckDB over the same parquet fixtures, sorts columns by name and rows by
all values, and compares cell-by-cell (floats to 1e-9 relative). An
oracle query that runs longer than QUERY_CAP_S is interrupted and
reported as a failure, so one slow oracle cannot stall the compare.
Each result line carries the query's DuckDB seconds, and the last line
their total.
Dev tool only — NOT part of the engine.
"""
import json
import math
import sys
import threading
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Per-query cap on an oracle's DuckDB run, in seconds: far above the
# slowest oracle at sf0.1 on 4 CPUs (dd_ngram_jaccard_lsh, about 38 s), so
# only a runaway plan reaches it.
QUERY_CAP_S = 900


class QueryTimeout(Exception):
    """An oracle query ran past QUERY_CAP_S; it counts as a failure."""


def run_capped(con, sql: str) -> pd.DataFrame:
    """Runs `sql` on `con` as a pandas frame, interrupting it after
    QUERY_CAP_S and raising QueryTimeout."""
    fired = threading.Event()

    def stop():
        fired.set()
        con.interrupt()

    timer = threading.Timer(QUERY_CAP_S, stop)
    timer.start()
    try:
        return con.execute(sql).df()
    except Exception:
        if fired.is_set():
            raise QueryTimeout("timeout") from None
        raise
    finally:
        timer.cancel()
        timer.join()


def run_timed(con, sql: str):
    """run_capped, never raising: returns (frame, error, seconds), with
    exactly one of frame and error set."""
    t0 = time.perf_counter()
    try:
        df, err = run_capped(con, sql), None
    except Exception as e:  # noqa: BLE001 — the caller reports it
        df, err = None, e
    return df, err, time.perf_counter() - t0


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="first").reset_index(drop=True)
    return df


def cells_equal(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return str(a) == str(b)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    total_s = 0.0
    for name, sql in sorted(oracle.items()):
        want, err, oracle_s = run_timed(con, sql)
        total_s += oracle_s
        secs = f"[{oracle_s:.2f} s]"
        try:
            if err is not None:
                raise err
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
            want = canon(want)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name} {secs}: {e}")
            failures += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name} {secs}: columns {list(got.columns)} != "
                  f"{list(want.columns)}")
            failures += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name} {secs}: rows {len(got)} != {len(want)}")
            failures += 1
            continue
        bad = None
        for col in got.columns:
            ga, wa = got[col].tolist(), want[col].tolist()
            for i, (x, y) in enumerate(zip(ga, wa)):
                if not cells_equal(x, y):
                    bad = (col, i, x, y)
                    break
            if bad:
                break
        if bad:
            col, i, x, y = bad
            print(f"FAIL {name} {secs}: first diff at row {i} col {col}: "
                  f"spark={x!r} oracle={y!r}")
            failures += 1
        else:
            print(f"OK   {name} ({len(got)} rows) {secs}")
    print(f"\n{len(oracle) - failures}/{len(oracle)} queries match")
    print(f"oracle DuckDB seconds, total: {total_s:.1f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
