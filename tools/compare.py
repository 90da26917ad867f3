#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads target/verify_out/<name>/ parquet (written by graft.Verify) and
oracle_sql.json, runs each oracle through DuckDB over the same parquet
tables, canonicalizes both sides (sort columns by name, sort rows,
round floats to 4 decimals) and diffs.

Usage: python3 tools/compare.py [sfdir] [outdir]
"""
import sys, json, glob, math, os
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "target", "verify_out")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    # Driver testdata is one file per table; ScaleGen corpora are
    # Spark-written directories of part files — glob those.
    path = f"{sfdir}/{t}.parquet"
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

def canon(cols, rows):
    # Mirror the driver gate's strictness (ADVICE r2: the old lax canon
    # masked gate failures):
    #  - Decimal stays Decimal (Spark DECIMAL vs oracle DOUBLE must FAIL)
    #  - int vs float is a type mismatch (BIGINT floor vs DOUBLE floor FAILS)
    #  - floats rounded to 6 dp only (driver tolerates sub-1e-6 drift:
    #    udf_vec_dot passed r2 with 1e-7 accumulation diffs)
    #  - list/array cells are a hard error (driver: unhashable ndarray)
    from decimal import Decimal
    def norm(v):
        if isinstance(v, list):
            raise TypeError("array-typed result cell: the driver gate "
                            "cannot canonicalize arrays — serialize to "
                            "string in the query")
        if isinstance(v, Decimal):
            return ("dec", str(v.normalize()))
        if isinstance(v, bool):
            return ("bool", v)
        if isinstance(v, int):
            return ("int", v)
        if isinstance(v, float):
            if math.isnan(v): return ("float", "NaN")
            v = round(v, 6)
            if v == -0.0: v = 0.0
            return ("float", v)
        if isinstance(v, bytes): return ("bytes", v.hex())
        return (type(v).__name__, v)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    key = lambda row: tuple((x is None, str(x)) for x in row)
    return sorted(cols), sorted(out, key=key)

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
n_ok = n_bad = 0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); n_bad += 1; continue
    try:
        sp = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
        sp_cols = [d[0] for d in sp.description]; sp_rows = sp.fetchall()
        du = con.execute(sql)
        du_cols = [d[0] for d in du.description]; du_rows = du.fetchall()
    except Exception as e:
        print(f"FAIL {name}: {e}"); n_bad += 1; continue
    sc, sr = canon(sp_cols, sp_rows)
    dc, dr = canon(du_cols, du_rows)
    if sc != dc:
        print(f"FAIL {name}: columns spark={sc} duck={dc}"); n_bad += 1; continue
    if sr != dr:
        n_bad += 1
        print(f"FAIL {name}: rows spark={len(sr)} duck={len(dr)}")
        for i, (a, b) in enumerate(zip(sr, dr)):
            if a != b:
                print(f"  first diff at row {i}:\n   spark={a}\n   duck ={b}"); break
        else:
            extra = sr[len(dr):] or dr[len(sr):]
            print(f"  extra rows: {extra[:3]}")
        continue
    n_ok += 1
    print(f"ok   {name} ({len(sr)} rows)")
print(f"\n{n_ok} ok, {n_bad} failed")
sys.exit(1 if n_bad else 0)
