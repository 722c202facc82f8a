#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same sf dir, canonicalize both sides (columns sorted by name,
rows sorted), and compare values. Not part of the shipped library."""
import glob, json, math, sys

import duckdb
import pyarrow.parquet as pq

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    return [cols[i] for i in order], sorted(out, key=lambda t: tuple(str(x) for x in t))

def cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, float) and isinstance(b, float):
            if math.isnan(a) and math.isnan(b):
                return True
            return a == b  # exact: our queries are engineered for bit-equality
        return False
    return a == b

fails = 0
for name in sorted(oracle):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    spark_t = pq.read_table(files[0])
    s_cols, s_rows = canon(spark_t.column_names, [list(r.values()) for r in spark_t.to_pylist()])
    try:
        d = con.execute(oracle[name])
        d_cols = [c[0] for c in d.description]
        d_rows = d.fetchall()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {e}"); fails += 1; continue
    d_cols, d_rows = canon(d_cols, [list(r) for r in d_rows])
    if s_cols != d_cols:
        print(f"FAIL {name}: cols spark={s_cols} duck={d_cols}"); fails += 1; continue
    if len(s_rows) != len(d_rows):
        print(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}"); fails += 1; continue
    bad = None
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if not all(cell_eq(a, b) for a, b in zip(sr, dr)):
            bad = (i, sr, dr); break
    if bad:
        print(f"FAIL {name}: row {bad[0]}\n  spark={bad[1]}\n  duck ={bad[2]}"); fails += 1
    else:
        print(f"OK   {name}: {len(s_rows)} rows")
# every query output needs an oracle: a rows-only check proves nothing
# about values (a failed trained-oracle generation lands here)
for d in sorted(glob.glob(f"{out_dir}/*/")):
    n = d.rstrip("/").split("/")[-1]
    if n not in oracle:
        print(f"FAIL {n}: no oracle (rows-only)"); fails += 1
sys.exit(1 if fails else 0)
