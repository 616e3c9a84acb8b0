"""Result check against the DuckDB oracle.

A key's result (parquet written by the harness) passes when it has the
oracle's row count, column names, column type classes and sorted-value
hash, normalised by graft's own tools/compare.py (imported, not copied):
columns sorted by name, rows sorted, floats via repr(). The oracle side
depends only on the lake, the SQL and that normalisation, so it is
computed once per (lake, SQL, compare.py) and cached.
"""
import hashlib
import json
import os

import duckdb

import lake  # noqa: F401  (puts graft's tools/ on the import path)
import compare as compare_tool
from compare import TABLES, table_hash, typeclass


def summary(con, sql):
    """Rows, sorted column names, type class per column and hash."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    types = {r[0]: typeclass(r[1]) for r in con.execute(f"DESCRIBE ({sql})").fetchall()}
    return {"rows": len(rows), "cols": sorted(cols), "types": types,
            "hash": table_hash(cols, rows)}


def expected(lake_dir, sql, cache_dir):
    """The oracle's summary for `sql` on the lake, or {"error": reason}."""
    if sql is None:
        return {"error": "no oracle SQL for this key"}
    with open(compare_tool.__file__, "rb") as fh:
        norm_code = fh.read()
    key = hashlib.sha256(f"{os.path.abspath(lake_dir)}\n{sql}\n".encode() + norm_code
                         ).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')")
        s = summary(con, sql)
    except duckdb.Error as e:
        return {"error": f"oracle failed: {e}"}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(s, fh)
    os.replace(path + ".tmp", path)
    return s


def compare(want, result_dir):
    """None when the result matches the oracle summary, else the reason."""
    if "error" in want:
        return want["error"]
    if not os.path.isdir(result_dir):
        return "no result written"
    con = duckdb.connect()
    got = summary(con, f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    con.close()
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    clash = sorted(c for c in got["types"] if got["types"][c] != want["types"].get(c))
    if clash:
        return "type classes differ: " + ",".join(
            f"{c}({got['types'][c]}|{want['types'].get(c)})" for c in clash)
    if got["hash"] != want["hash"]:
        return "hash differs"
    return None
