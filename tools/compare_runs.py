#!/usr/bin/env python3
"""Determinism double-run comparator: row-for-row EXCEPT ALL both
directions (multiset equality) for every query output parquet present
in two Verify output dirs, then the two dirs' oracle_sql.json: every
query whose oracle text differs once whitespace is normalised and the
per-process run tag (`r<pid>_`) and the checkout's absolute
`.../target/fixtures/` prefix (two checkouts differ in both) are masked.
Exits 1 if any output or oracle differs. Usage: compare_runs.py dirA dirB
"""
import sys, os, re, json, duckdb

a, b = sys.argv[1], sys.argv[2]
def outs(d):
    return {n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n)) and not n.startswith("_")}

sa, sb = outs(a), outs(b)
names = sorted(sa & sb)
only_a, only_b = sorted(sa - sb), sorted(sb - sa)
if only_a or only_b:
    print(f"MANIFEST MISMATCH only_a={only_a} only_b={only_b}")
    sys.exit(1)

con = duckdb.connect()
bad = 0
for n in names:
    pa = os.path.join(a, n)
    pb = os.path.join(b, n)
    try:
        d1 = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM read_parquet('{pa}/*.parquet') "
            f"EXCEPT ALL SELECT * FROM read_parquet('{pb}/*.parquet'))").fetchone()[0]
        d2 = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM read_parquet('{pb}/*.parquet') "
            f"EXCEPT ALL SELECT * FROM read_parquet('{pa}/*.parquet'))").fetchone()[0]
    except Exception as e:
        print(f"{n}: ERROR {e}")
        bad += 1
        continue
    if d1 or d2:
        print(f"{n}: DIFF a-b={d1} b-a={d2}")
        bad += 1
print(f"{len(names)} compared, {bad} differ")

def normalised(q):
    q = re.sub(r"'/[^']*?/target/fixtures/", "'<fixtures>/", q)
    q = re.sub(r"/r\d+_", "/r<pid>_", q)
    return re.sub(r"\s+", " ", q).strip()

def oracles(d):
    with open(os.path.join(d, "oracle_sql.json")) as f:
        return {n: normalised(q) for n, q in json.load(f).items()}

oa, ob = oracles(a), oracles(b)
diff = sorted(n for n in oa.keys() | ob.keys() if oa.get(n) != ob.get(n))
for n in diff:
    print(f"{n}: ORACLE SQL DIFF")
print(f"{len(oa.keys() | ob.keys())} oracles compared, {len(diff)} differ")
sys.exit(1 if bad or diff else 0)
