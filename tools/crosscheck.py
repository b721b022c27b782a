#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the sf tables, compare against the Spark result parquet in
outDir (column-name-sorted, row-sorted, NaN-aware). Usage:
    python3 tools/crosscheck.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json, math, sys
import duckdb

def norm_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", round(v, 9))
    return (str(type(v).__name__)[:1], str(v))

def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    out.sort()
    return [cols[i] for i in idx], out

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
            got = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
        except Exception as e:
            print(f"FAIL {name}: error {e}")
            n_fail += 1
            continue
        wc, wn = norm_rows(wcols, wrows)
        gc, gn = norm_rows(gcols, grows)
        if wc != gc:
            print(f"FAIL {name}: columns {gc} vs oracle {wc}")
            n_fail += 1
        elif wn != gn:
            bad = next((i for i, (a, b) in enumerate(zip(wn, gn)) if a != b),
                       min(len(wn), len(gn)))
            print(f"FAIL {name}: rows {len(gn)} vs {len(wn)}; first diff at {bad}:")
            print(f"   spark:  {gn[bad] if bad < len(gn) else '<missing>'}")
            print(f"   oracle: {wn[bad] if bad < len(wn) else '<missing>'}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gn)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    if n_pass + n_fail == 0:
        print("FAIL: no queries compared (empty oracle_sql.json)")
    return 1 if n_fail or n_pass + n_fail == 0 else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
