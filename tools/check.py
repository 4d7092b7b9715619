#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF dir, then execute each oracle SQL in DuckDB over the same parquet
tables and compare row counts, sorted-column schemas, and value hashes.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [only_query ...]
"""
import sys, json, subprocess, hashlib, glob, os

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
args = sys.argv[3:]
skip_verify = "--skip-verify" in args
only = [a for a in args if not a.startswith("--")]

if not skip_verify:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sf} {out}'],
        capture_output=True, text=True, cwd="/root/repo")
    if "[success]" not in r.stdout:
        print(r.stdout[-4000:]); print(r.stderr[-2000:]); sys.exit(1)
    for line in r.stdout.splitlines():
        if "[verify]" in line:
            print(line)

import duckdb, pyarrow.parquet as pq
from sysmem import duckdb_memory_limit

# One FRESH connection per compared query (made in the loop below):
# DuckDB 1.0 accumulates buffer-pool state across heavy queries on one
# connection and eventually fails allocation even though each query runs
# fine alone. Spill must be enabled explicitly (temp_directory), else
# big-SF window/sort oracles die with "Failed to allocate" instead of
# spilling. Local-harness-only settings -- the driver's own gate runs at
# sf0.01 where neither triggers.
os.makedirs("/tmp/duck_spill", exist_ok=True)
def make_con():
    c = duckdb.connect()
    c.execute("SET temp_directory='/tmp/duck_spill'")
    c.execute(f"SET memory_limit='{duckdb_memory_limit()}'")
    # window-operator memory scales with threads; 8 is plenty for an
    # oracle run and keeps peak allocation well under the limit on the
    # heavy window oracles (d30/d33's per-doc windowed string_agg at
    # sf10+), which matters when the harness itself runs under a
    # memory-constrained sandbox
    c.execute("SET threads=8")
    for t in glob.glob(f"{sf}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        # a table is either a single parquet file (driver layout) or a
        # directory of part files (DataGen / Spark-written layout)
        src = f"{t}/*.parquet" if os.path.isdir(t) else t
        c.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return c

oracle = json.load(open(f"{out}/oracle_sql.json"))

# registered-vs-checked guard: every query in SparkEntry.queries must be
# BOTH oracle-covered and present in the output -- an erroring query (no
# output dir) or a missing oracle entry is a FAIL, never a silent omission.
registered, no_oracle = [], []
reg_path = f"{out}/registered.json"
if os.path.exists(reg_path):
    registered = json.load(open(reg_path))
    no_oracle = sorted(set(registered) - set(oracle))
    if no_oracle and not only:
        print(f"REGISTERED-WITHOUT-ORACLE ({len(no_oracle)}): {no_oracle}")

# ---- aggregate-hash compare (large outputs) --------------------------------
# The pandas materialize-sort-hash path holds BOTH result sets in driver
# memory — at s12@sf100 (~183 M rows) that is not a compare harness, it is
# an OOM. Aggregate mode computes, INSIDE DuckDB on each side, an
# order-independent row-set fingerprint with no materialization:
#   per row:  h = md5_number(concat_ws(US, columns sorted by name,
#                                      NULL -> chr(0)))     (128-bit)
#   per side: (count(*), bit_xor(h), sum(h % p))            p = max prime < 2^63
# bit_xor alone would let duplicate-pair insert/delete cancel; the modular
# sum breaks that symmetry (sum stays < 2^91 at 183 M rows, inside
# HUGEINT), and count pins cardinality. Both sides are formatted by the
# SAME engine (DuckDB casts), so the full-precision discipline of the
# pandas path (%.17g on both sides) is preserved by construction.
# Activated per query when the spark output exceeds GRAFT_AGG_HASH_ROWS
# (default 20 M — comfortably above every gate-scale result) or with
# --agg for all compared queries (used to cross-validate the two paths).
AGG_THRESHOLD = int(os.environ.get("GRAFT_AGG_HASH_ROWS", "20000000"))
force_agg = "--agg" in args

def agg_fingerprint(con, src_sql, cols):
    parts = ", ".join(f'COALESCE(CAST("{c}" AS VARCHAR), chr(0))'
                      for c in sorted(cols))
    q = (f"SELECT count(*) AS n, "
         f"COALESCE(bit_xor(h), 0::HUGEINT) AS hx, "
         f"COALESCE(sum(h % 9223372036854775783::HUGEINT), 0::HUGEINT) AS hs "
         f"FROM (SELECT md5_number(concat_ws(chr(31), {parts})) AS h "
         f"      FROM ({src_sql}))")
    return con.execute(q).fetchone()

def agg_compare(name, spark_src, sql):
    c = make_con()
    try:
        s_cols = [r[0] for r in c.execute(f"DESCRIBE {spark_src}").fetchall()]
        o_cols = [r[0] for r in c.execute(f"DESCRIBE {sql}").fetchall()]
        ok_schema = sorted(s_cols) == sorted(o_cols)
        s_fp = agg_fingerprint(c, spark_src, s_cols)
    finally:
        c.close()
    c = make_con()
    try:
        o_fp = agg_fingerprint(c, sql, o_cols)
    finally:
        c.close()
    ok = ok_schema and s_fp == o_fp
    if ok:
        print(f"{name}: ok-agg ({s_fp[0]} rows, xor/sum fingerprint)")
    else:
        print(f"{name}: rows {s_fp[0]}/{o_fp[0]} schema_match={ok_schema} "
              f"fingerprint={'match' if s_fp[1:] == o_fp[1:] else 'MISMATCH'}")
        if not ok_schema:
            print(f"  spark cols: {sorted(s_cols)}\n  oracle cols: {sorted(o_cols)}")
    return ok

fails = list(no_oracle) if not only else []
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    pdir = f"{out}/{name}"
    if not os.path.isdir(pdir):
        fails.append(name); print(f"{name}: MISSING spark output"); continue
    spark_src = f"SELECT * FROM read_parquet('{pdir}/*.parquet')"
    try:
        con = make_con()
        try:
            n_spark = con.execute(
                f"SELECT count(*) FROM read_parquet('{pdir}/*.parquet')").fetchone()[0]
        finally:
            con.close()
        if force_agg or n_spark > AGG_THRESHOLD:
            if not agg_compare(name, spark_src, sql):
                fails.append(name)
            continue
    except Exception as e:
        fails.append(name); print(f"{name}: ERROR {e}"); continue
    try:
        # separate fresh connections for the two sides: same rationale as
        # the per-query fresh connection (buffer-pool state accumulates on
        # a connection), applied within one query's compare so the spark
        # read's pool never inflates the heavy oracle's peak
        con = make_con()
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
        finally:
            con.close()
        con = make_con()
        try:
            ora_df = con.execute(sql).fetchdf()
        finally:
            con.close()
    except Exception as e:
        fails.append(name); print(f"{name}: ERROR {e}"); continue
    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df
    s, o = norm(spark_df), norm(ora_df)
    ok_rows = len(s) == len(o)
    ok_schema = list(s.columns) == list(o.columns)
    def h(df):
        # full-precision repr: a sub-1e-6 Spark/DuckDB divergence must FAIL
        # (the decimal-accumulation discipline exists to catch exactly that)
        return hashlib.md5(df.to_csv(index=False, float_format="%.17g").encode()).hexdigest()
    ok_hash = ok_rows and ok_schema and h(s) == h(o)
    status = "ok" if (ok_rows and ok_schema and ok_hash) else "FAIL"
    if status == "FAIL":
        fails.append(name)
        print(f"{name}: rows {len(s)}/{len(o)} schema_match={ok_schema} hash={ok_hash}")
        if not ok_schema:
            print(f"  spark cols: {list(s.columns)}\n  oracle cols: {list(o.columns)}")
        elif ok_rows and len(s) > 0:
            import pandas as pd
            merged = s.compare(o) if s.shape == o.shape else None
            if merged is not None and len(merged):
                print(merged.head(5))
    else:
        print(f"{name}: ok ({len(s)} rows)")
reg_note = f" (registered: {len(registered)})" if registered else ""
print(f"\n{len(oracle) - len(fails)}/{len(oracle)} ok{reg_note}; fails: {fails}")
sys.exit(1 if fails else 0)
