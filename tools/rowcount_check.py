#!/usr/bin/env python3
"""Rows-only oracle compare for output-bound queries — the driver's own
weaker check, applied where the full rows+schema+hash compare would
measure the harness instead of the engine (results with >=500k rows at
sf10; see SCALE_sf10.md). Spark counts via graft.RowCount (aggregate in
place, nothing materialized); DuckDB counts via SELECT COUNT(*) over the
same oracle SQL on the same parquet tables.

Usage: python3 tools/rowcount_check.py <sfdir> <oracle_sql.json> <name...>
       [--skip-spark <rowcount_log>]

With --skip-spark, parses [rowcount] lines from an existing log instead
of launching sbt (re-compare after an oracle-side-only change).
"""
import sys, json, subprocess, glob, os

# the checkout this script lives in: sbt builds and runs ITS code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

args = [a for a in sys.argv[1:] if not a.startswith("--")]
sf, oracle_path, names = args[0], args[1], args[2:]
skip_log = None
if "--skip-spark" in sys.argv:
    skip_log = args[-1]
    names = names[:-1]
assert names, "give at least one query name"

oracle = json.load(open(oracle_path))
unknown = [n for n in names if n not in oracle]
assert not unknown, f"not in oracle json: {unknown}"

if skip_log:
    out = open(skip_log).read()
else:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.RowCount {sf} {",".join(names)}'],
        capture_output=True, text=True, cwd=REPO)
    out = r.stdout
    if "[success]" not in out:
        print(out[-4000:]); print(r.stderr[-2000:]); sys.exit(1)

# [rowcount] <name> <rows> <seconds> <jobs> <compiles>, or [rowcount] <name> ERROR <message>
spark_fields = {}
for line in out.splitlines():
    if line.startswith("[rowcount] "):
        _, name, rest = line.split(" ", 2)
        spark_fields[name] = rest.split()

import duckdb
from sysmem import duckdb_memory_limit
con = duckdb.connect()
con.execute(f"SET memory_limit='{duckdb_memory_limit()}'")
con.execute("SET temp_directory='/tmp/duck_spill'")
for t in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(t)[: -len(".parquet")]
    src = f"{t}/*.parquet" if os.path.isdir(t) else t
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def count_sql(sql):
    """COUNT(*) wrapper, stripping a trailing top-level ORDER BY.

    Order cannot change a COUNT(*), but DuckDB materializes the sort
    anyway (q10's oracle would sort ~3 G rows at sf10 — 100 GB of heap
    — just to have the subquery counted). Strip only when the final
    top-level ORDER BY runs to end-of-string with no LIMIT/OFFSET after
    it (a LIMIT would make row count order-dependent) and no parens in
    the tail (window ORDER BYs live at depth > 0 and are never touched).
    """
    up, depth, cut = sql.upper(), 0, None
    for i, c in enumerate(sql):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and up.startswith("ORDER BY", i):
            cut = i
    if cut is not None:
        tail = up[cut:]
        if "LIMIT" not in tail and "OFFSET" not in tail and "(" not in tail:
            sql = sql[:cut]
    return f"SELECT COUNT(*) FROM ({sql}) __rc"


fails = []
for name in names:
    fields = spark_fields.get(name, [])
    s = fields[0] if fields else ""
    if not s.isdigit():
        fails.append(name); print(f"{name}: SPARK {' '.join(fields) or 'missing'}"); continue
    try:
        (o,) = con.execute(count_sql(oracle[name])).fetchone()
    except Exception as e:
        fails.append(name); print(f"{name}: ORACLE ERROR {e}"); continue
    ok = int(s) == int(o)
    if not ok:
        fails.append(name)
    cost = ", ".join(f"{v} {unit}" for v, unit in zip(fields[1:], ("s", "jobs", "compiles")))
    print(f"{name}: {'ok' if ok else 'FAIL'} spark={s} oracle={o}" + (f" ({cost})" if cost else ""))
print(f"\n{len(names) - len(fails)}/{len(names)} ok; fails: {fails}")
sys.exit(1 if fails else 0)
