#!/usr/bin/env python3
"""Local stand-in for the t2 correctness gate: run each oracle SQL in
DuckDB over the same parquet tables, compare to the Verify dump (exact
values, columns sorted by name).

Usage: local_check.py [sf_dir] [out_dir] [names]
`names` is the comma-separated query list given to Verify as its third
argument; only those names are checked. A named query with no output,
or a name missing from oracle_sql.json, FAILs.

Exit status: 0 when every checked query is ok, 1 when any FAILs."""
import sys, json, glob, hashlib
import duckdb, pyarrow.parquet as pq
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
names = sys.argv[3].split(",") if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
ok = fail = 0
for name in (names if names is not None else sorted(oracle)):
    if name not in oracle:
        print(f"FAIL {name}: not in oracle_sql.json"); fail += 1; continue
    sql = oracle[name]
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}"); fail += 1; continue
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fail += 1; continue
    got = pq.read_table(files[0]).to_pandas()
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        print(f"FAIL {name}: columns want={list(want.columns)} got={list(got.columns)}"); fail += 1; continue
    if len(want) != len(got):
        print(f"FAIL {name}: rows want={len(want)} got={len(got)}"); fail += 1; continue
    mismatch = None
    for c in want.columns:
        try:
            wv, gv = want[c], got[c]
            w_dt = str(wv.dtype).startswith("datetime")
            g_dt = str(gv.dtype).startswith("datetime")
            if w_dt != g_dt:
                mismatch = f"col {c}: dtype mismatch want={wv.dtype} got={gv.dtype}"
                break
            if w_dt:
                wv = pd.to_datetime(wv).dt.tz_localize(None) if getattr(wv.dt, 'tz', None) is None else pd.to_datetime(wv).dt.tz_convert(None)
                gv = pd.to_datetime(gv).dt.tz_localize(None) if getattr(gv.dt, 'tz', None) is None else pd.to_datetime(gv).dt.tz_convert(None)
            elif str(wv.dtype) != str(gv.dtype):
                # DTYPE-STRICT (r10): the driver hashes a serialized frame, so a
                # DuckDB HUGEINT/DOUBLE next to a Spark BIGINT hash-mismatches even
                # when every value compares equal (r9's data_shard_assign).  Mirror
                # that: any non-datetime dtype inequality is a local FAIL, forcing
                # the oracle SQL to carry explicit CASTs.
                mismatch = f"col {c}: dtype mismatch want={wv.dtype} got={gv.dtype}"
                break
            eq = (wv.astype(object).where(pd.notna(wv), None) ==
                  gv.astype(object).where(pd.notna(gv), None)) | (pd.isna(wv) & pd.isna(gv))
            if not eq.all():
                idx = eq.idxmin()
                mismatch = f"col {c} row {idx}: want={wv.iloc[idx]!r} got={gv.iloc[idx]!r}"
                break
        except Exception as e:  # never abort the whole gate on one column
            mismatch = f"col {c}: compare error {e}"
            break
    if mismatch:
        print(f"FAIL {name}: {mismatch}"); fail += 1
    else:
        print(f"ok   {name} ({len(got)} rows)"); ok += 1

# rows-only queries
import os
for d in sorted(glob.glob(f"{out_dir}/*/")) if names is None else []:
    name = d.rstrip("/").split("/")[-1]
    if name in oracle: continue
    files = glob.glob(f"{d}/*.parquet")
    n = sum(pq.read_table(f).num_rows for f in files) if files else 0
    print(f"{'ok  ' if n > 0 else 'FAIL'} {name} (rows-only, {n} rows)")
    if n > 0: ok += 1
    else: fail += 1
print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
