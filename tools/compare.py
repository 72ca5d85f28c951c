#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

For each query dir under verifyOutDir: load Spark's parquet result, run
the matching oracle SQL (oracle_sql.json) in DuckDB over the sfDir
tables, sort columns by name, sort rows, and compare row count, schema
(dtype kinds) and values. Every oracle entry is checked (one without an
output dir fails); the tool prints how many it compared and exits
non-zero on any failure or when there was none to compare (an empty
oracle_sql.json is not a pass).
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p)[:-8]
    # a table is either the driver's single parquet file or a staged
    # Spark directory (e.g. the local sf1 estate) — glob the parts then
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[ns]")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = []
# an oracle entry whose query died before writing its dir must FAIL,
# not vanish (plan-time errors produce no output directory at all)
have = {os.path.basename(d.rstrip("/")) for d in glob.glob(f"{out}/*/")}
for name in sorted(set(oracle) - have):
    fails.append(name); print(f"FAIL {name}: no spark output dir")
for qdir in sorted(glob.glob(f"{out}/*/")):
    name = os.path.basename(qdir.rstrip("/"))
    files = glob.glob(f"{qdir}/*.parquet")
    if not files:
        fails.append(name); print(f"FAIL {name}: no spark output"); continue
    sdf = pq.read_table(files[0]).to_pandas()
    if name not in oracle:
        print(f"SKIP {name}: no oracle (rows={len(sdf)})"); continue
    try:
        odf = con.execute(oracle[name]).df()
    except Exception as e:
        fails.append(name); print(f"FAIL {name}: oracle error {str(e)[:200]}"); continue
    s, o = canon(sdf), canon(odf)
    if list(s.columns) != list(o.columns):
        fails.append(name); print(f"FAIL {name}: cols {list(s.columns)} vs {list(o.columns)}"); continue
    if len(s) != len(o):
        fails.append(name); print(f"FAIL {name}: rows {len(s)} vs {len(o)}"); continue
    sk = [str(t.kind)+str(t.itemsize if hasattr(t,'itemsize') else '') for t in s.dtypes]
    ok = [str(t.kind)+str(t.itemsize if hasattr(t,'itemsize') else '') for t in o.dtypes]
    if sk != ok:
        fails.append(name); print(f"FAIL {name}: dtypes {list(zip(s.columns, sk, ok))}"); continue
    try:
        pd.testing.assert_frame_equal(s, o, check_exact=True)
        print(f"PASS {name} ({len(s)} rows)")
    except AssertionError as e:
        fails.append(name)
        print(f"FAIL {name}: values differ: {str(e).splitlines()[-1][:300]}")
        diff = (s != o) & ~(s.isna() & o.isna())
        for c in s.columns:
            if diff[c].any():
                i = diff[c].idxmax()
                print(f"   col {c} first diff at row {i}: spark={s[c][i]!r} oracle={o[c][i]!r}")
print(f"\n{len(oracle)} compared")
if not oracle:
    print("NOTHING COMPARED"); sys.exit(1)
print(f"{len(fails)} failures: {fails}" if fails else "ALL PASS")
sys.exit(1 if fails else 0)
