"""Compare a graft.Verify output dir against the DuckDB oracle: runs each
oracle_sql.json entry over the sf0.01 tables and diffs it against
<out>/<name>/*.parquet. Exits 1 if any entry is not OK or has no output
directory. Usage: python3 tools/check_oracle.py [out]  (default /tmp/vout)"""
import duckdb, json, os, sys
import pandas as pd

sf = "/root/testdata/sf0.01"
out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/vout"
con = duckdb.connect()
for t in ["documents","embeddings","events","lineitem","orders","customer","nation","supplier","part","region"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = []
for name, sql in sorted(oracle.items()):
    if not os.path.isdir(f"{out}/{name}"):
        print(f"{name}: MISSING output dir {out}/{name}"); fails.append(name); continue
    try:
        got = con.sql(f"SELECT * FROM parquet_scan('{out}/{name}/*.parquet')").df()
        exp = con.sql(sql).df()
        # driver-style: sort columns by name, sort rows, compare
        got = got[sorted(got.columns)]
        exp = exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns):
            print(f"{name}: COLUMN MISMATCH got={list(got.columns)} exp={list(exp.columns)}"); fails.append(name); continue
        g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
        if len(g) != len(e):
            print(f"{name}: ROWCOUNT got={len(g)} exp={len(e)}"); fails.append(name); continue
        # normalize dtypes
        ok = True
        for c in g.columns:
            gv, ev = g[c], e[c]
            try:
                import numpy as np
                if gv.dtype != ev.dtype:
                    gv = gv.astype(str); ev = ev.astype(str)
                eq = (gv.fillna("§") == ev.fillna("§")) if gv.dtype == object else (gv == ev) | (gv.isna() & ev.isna())
                if not eq.all():
                    ok = False
                    bad = (~eq).idxmax()
                    print(f"{name}: VALUE MISMATCH col={c} row={bad} got={gv[bad]!r} exp={ev[bad]!r} dtypes={g[c].dtype}/{e[c].dtype}")
                    break
            except Exception as ex:
                ok = False; print(f"{name}: compare error col={c}: {ex}"); break
        if ok:
            print(f"{name}: OK rows={len(g)} dtypes_match={all(got.dtypes[c]==exp.dtypes[c] for c in g.columns)}")
        else:
            fails.append(name)
    except Exception as ex:
        print(f"{name}: ERROR {ex}"); fails.append(name)

print(f"{len(oracle) - len(fails)}/{len(oracle)} OK" + (f"; failed: {' '.join(fails)}" if fails else ""))
sys.exit(1 if fails else 0)
