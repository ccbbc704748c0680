#!/usr/bin/env python3
"""Repr-strict oracle compare: the closest local emulation of the
driver's exact value-hash gate (tools/check_oracle.py tolerates 1e-9,
which can hide a last-ULP divergence the driver would flag).

Usage: python3 tools/check_strict.py [sfDir] [dumpDir]
Run graft.Verify into dumpDir first. Each oracle query runs under
check_oracle's per-query cap; one that hits it is a failure. Each
OK/STRICT-FAIL line carries the query's DuckDB seconds, and the last
line their total.
Dev tool only — NOT the engine.
"""
import json
import os
import sys

import duckdb
import pandas as pd

# ONE fixture-table list and one per-query cap, no drift
from check_oracle import TABLES, QueryTimeout, run_timed


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    dump = sys.argv[2] if len(sys.argv) > 2 else "/tmp/v"
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sqls = json.load(open(f"{dump}/oracle_sql.json"))
    bad = []
    total_s = 0.0
    for name, sql in sorted(sqls.items()):
        if not os.path.isdir(f"{dump}/{name}"):
            bad.append((name, "MISSING dump directory"))
            continue
        o, err, oracle_s = run_timed(con, sql)
        total_s += oracle_s
        name_s = f"{name} [{oracle_s:.2f} s]"
        try:
            if err is not None:
                raise err
            s = pd.read_parquet(f"{dump}/{name}")  # whole dir, all parts
            o = o.reindex(sorted(o.columns), axis=1)
            s = s.reindex(sorted(s.columns), axis=1)
            if list(o.columns) != list(s.columns):
                bad.append((name_s, f"schema {list(o.columns)} vs {list(s.columns)}"))
                continue
            cols = list(o.columns)
            o = o.sort_values(cols, kind="mergesort").reset_index(drop=True)
            s = s.sort_values(cols, kind="mergesort").reset_index(drop=True)
            if len(o) != len(s):
                bad.append((name_s, f"rows {len(o)} vs {len(s)}"))
                continue
            mism = sum(repr(a) != repr(b)
                       for c in cols for a, b in zip(o[c], s[c]))
            if mism:
                bad.append((name_s, f"{mism} value mismatches"))
                for c in cols:
                    for a, b in zip(o[c], s[c]):
                        if repr(a) != repr(b):
                            print(f"  {name}.{c}: oracle {a!r} vs spark {b!r}")
                            break
                    else:
                        continue
                    break
            else:
                print(f"OK   {name_s}")
        except QueryTimeout as e:
            bad.append((name_s, str(e)))
        except Exception as e:  # noqa: BLE001 — report, keep checking
            bad.append((name_s, f"ERR {e}"))
    for name, why in bad:
        print(f"STRICT-FAIL {name}: {why}")
    print(f"{len(sqls) - len(bad)}/{len(sqls)} queries repr-identical")
    print(f"oracle DuckDB seconds, total: {total_s:.1f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
