#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables, compare with the Verify parquet dump
(rows, schema kinds, sorted-by-column-name value hash). An oracle query with
no dump directory counts as MISSING and fails; run Verify into a fresh
output directory so an earlier run's dump cannot stand in for a failed query.
A dump with no oracle is checked for nothing but being readable: it is
counted as rows-only, apart from the oracle-checked ok.

Usage: python3 tools/check_oracle.py <sf_dir> <verify_out_dir>"""
import sys, json, glob, hashlib
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def norm(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if v != v: return "nan"
        return repr(v)
    if isinstance(v, bool): return str(int(v))
    return str(v)

def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for l in lines: h.update(l.encode()); h.update(b"\n")
    return h.hexdigest()

ok = rows_only = fail = 0
# a query that threw before Verify wrote its dump has no directory at all:
# it must count as a failure, not vanish from the tally
dumped = {d.split("/")[-1] for d in glob.glob(f"{out_dir}/q*")}
for qname in sorted(set(oracle) - dumped):
    print(f"{qname}: MISSING (no dump directory)"); fail += 1
for name in sorted(glob.glob(f"{out_dir}/q*")):
    qname = name.split("/")[-1]
    try:
        got = con.execute(f"SELECT * FROM '{name}/*.parquet'")
        gcols = [c[0] for c in got.description]
        grows = got.fetchall()
    except Exception as e:
        print(f"{qname}: READ FAIL {e}"); fail += 1; continue
    if qname not in oracle:
        print(f"{qname}: rows-only ({len(grows)} rows; cols {sorted(gcols)})")
        rows_only += 1
        continue
    try:
        exp = con.execute(oracle[qname])
        ecols = [c[0] for c in exp.description]
        erows = exp.fetchall()
    except Exception as e:
        print(f"{qname}: ORACLE SQL FAIL {e}"); fail += 1; continue
    problems = []
    if sorted(gcols) != sorted(ecols):
        problems.append(f"cols {sorted(gcols)} vs {sorted(ecols)}")
    if len(grows) != len(erows):
        problems.append(f"rowcount {len(grows)} vs {len(erows)}")
    if not problems and table_hash(gcols, grows) != table_hash(ecols, erows):
        problems.append("HASH MISMATCH")
        # show first differing line
        order_g = sorted(range(len(gcols)), key=lambda i: gcols[i])
        order_e = sorted(range(len(ecols)), key=lambda i: ecols[i])
        gl = sorted("|".join(norm(r[i]) for i in order_g) for r in grows)
        el = sorted("|".join(norm(r[i]) for i in order_e) for r in erows)
        for a, b in zip(gl, el):
            if a != b:
                problems.append(f"  got: {a}\n  exp: {b}")
                break
    if problems:
        print(f"{qname}: FAIL " + "; ".join(problems)); fail += 1
    else:
        print(f"{qname}: OK ({len(grows)} rows)"); ok += 1

print(f"\n{ok} ok, {rows_only} rows-only, {fail} fail")
sys.exit(1 if fail else 0)
