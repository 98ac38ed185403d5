#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify
output against the DuckDB oracle and diff. Usage:
    python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
Not part of the shipped library (driver-side python only)."""
import sys, os, json, glob
import duckdb
import pandas as pd

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sf, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
ok = fail = 0
# a query that threw in Verify leaves no output directory: name it
for name in sorted(oracles):
    if not os.path.isdir(os.path.join(out, name)):
        print(f"{name}: FAIL  no output")
        fail += 1
for name in sorted(os.listdir(out)):
    d = os.path.join(out, name)
    if not os.path.isdir(d):
        continue
    got = pd.read_parquet(d)
    if name not in oracles:
        print(f"{name}: rows-only, rows={len(got)}",
              "OK" if len(got) > 0 else "EMPTY!")
        continue
    try:
        want = con.execute(oracles[name]).df()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}")
        fail += 1
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    status = []
    if list(got.columns) != list(want.columns):
        status.append(f"SCHEMA diff: spark={list(got.columns)} duck={list(want.columns)}")
    if len(got) != len(want):
        status.append(f"ROWS diff: spark={len(got)} duck={len(want)}")
    if not status:
        g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
        g = g.astype(str)
        w = w.astype(str)
        if not g.equals(w):
            diff = (g != w).any(axis=1)
            status.append("VALUE diff, first rows:\n" +
                          pd.concat([g[diff].head(3), w[diff].head(3)],
                                    keys=["spark", "duck"]).to_string())
    if status:
        print(f"{name}: FAIL  " + "; ".join(status))
        fail += 1
    else:
        print(f"{name}: match ({len(got)} rows)")
        ok += 1
print(f"\n{ok} match, {fail} fail")
sys.exit(1 if fail else 0)
