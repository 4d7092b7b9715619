"""Correctness gate: each query's result against its DuckDB oracle.

Both sides are reduced inside DuckDB to the order-independent row-set
fingerprint of `tools/check.py`: per row, md5_number over the columns in
name order (NULL as chr(0), joined by chr(31)); per side, the row count, the
bit_xor of the row hashes and their sum modulo a large prime. For a query
whose oracle has an outermost ORDER BY the row order is compared too, as the
default path of `tools/check.py` does: an md5 over the rows in the order the
oracle gives them and in the order of the result's part files. The oracle,
not the Spark plan, decides, so a change that drops a final sort fails. Oracle
fingerprints depend only on the data and the SQL, so they are cached next to
the generated data.
"""
import glob
import hashlib
import json
import os

import duckdb

PRIME = 9223372036854775783


def connect(data_dir, tmp, memory_gb):
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{memory_gb}GB'")
    con.execute(f"SET threads={os.cpu_count() or 1}")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(t)[: -len(".parquet")]
        src = os.path.join(t, "*.parquet") if os.path.isdir(t) else t
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def fingerprint(con, src_sql):
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE {src_sql}").fetchall())
    parts = ", ".join(f'COALESCE(CAST("{c}" AS VARCHAR), chr(0))' for c in cols)
    n, hx, hs = con.execute(
        f"SELECT count(*), COALESCE(bit_xor(h), 0::HUGEINT), "
        f"COALESCE(sum(h % {PRIME}::HUGEINT), 0::HUGEINT) "
        f"FROM (SELECT md5_number(concat_ws(chr(31), {parts})) AS h FROM ({src_sql}))").fetchone()
    return {"columns": cols, "rows": n, "xor": str(hx), "sum": str(hs)}


def ordered_by(con, sql):
    """Whether the outermost query of `sql` has an ORDER BY."""
    tree = json.loads(con.execute("SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0])
    if tree.get("error"):
        return False  # the oracle run reports the error
    return any(m["type"] == "ORDER_MODIFIER" for m in tree["statements"][0]["node"]["modifiers"])


def ordered_digest(cursor):
    """md5 over a result's rows in the order the cursor yields them, with
    the columns in name order."""
    cols = [d[0] for d in cursor.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.md5()
    while True:
        rows = cursor.fetchmany(10000)
        if not rows:
            return h.hexdigest()
        for row in rows:
            h.update("\x1f".join(str(row[i]) for i in idx).encode() + b"\x1e")


def result_in_order(con, files):
    """The result's rows in part-file order, without the file columns."""
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{files}')").fetchall()]
    sel = ", ".join(f'"{c}"' for c in cols)
    return con.execute(f"SELECT {sel} FROM read_parquet('{files}', filename=true, "
                       f"file_row_number=true) ORDER BY filename, file_row_number")


def check(names, oracle_sql, data_dir, results_dir, cache_dir, tmp, memory_gb):
    """{query: None if its result matches the oracle, else the reason}."""
    os.makedirs(cache_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    con = connect(data_dir, tmp, memory_gb)
    verdicts = {}
    try:
        for name in names:
            sql = oracle_sql.get(name)
            if sql is None:
                verdicts[name] = "no oracle SQL"
                continue
            digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
            cached = os.path.join(cache_dir, f"{name}-{digest}.json")
            try:
                want = {}
                if os.path.exists(cached):
                    with open(cached) as fh:
                        want = json.load(fh)
                fresh = dict(want)
                if not want:
                    fresh.update(fingerprint(con, sql))
                ordered = ordered_by(con, sql)
                if ordered and "order_md5" not in want:
                    fresh["order_md5"] = ordered_digest(con.execute(sql))
                if fresh != want:
                    want = fresh
                    with open(cached + ".tmp", "w") as fh:
                        json.dump(want, fh)
                    os.replace(cached + ".tmp", cached)
                files = os.path.join(results_dir, name, "*.parquet")
                if not glob.glob(files):
                    verdicts[name] = "no result written"
                    continue
                got = fingerprint(con, f"SELECT * FROM read_parquet('{files}')")
                if ordered:
                    got["order_md5"] = ordered_digest(result_in_order(con, files))
            except duckdb.Error as e:
                verdicts[name] = f"duckdb: {e}"[:300]
                continue
            if got["columns"] != want["columns"]:
                verdicts[name] = f"columns {got['columns']} != oracle {want['columns']}"
            elif any(got[k] != want[k] for k in ("rows", "xor", "sum")):
                verdicts[name] = f"rows {got['rows']} vs oracle {want['rows']}, fingerprint differs"
            elif got.get("order_md5", want.get("order_md5")) != want.get("order_md5"):
                verdicts[name] = "same rows, but not in the order of the oracle's ORDER BY"
            else:
                verdicts[name] = None
    finally:
        con.close()
    return verdicts
