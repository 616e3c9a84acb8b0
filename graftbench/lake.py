"""Seeded lake generator.

Derives a lake from a source data directory (one parquet file per table)
by relabelling every entity key with a seeded bijection of its own value
set, applied to every column that references that key, and by writing
the rows of each table in a seeded order. Row counts, key ranges and
value distributions stay as they were, so every literal id a query names
still exists; which entity carries which id changes with the seed.

    python3 graftbench/lake.py <srcDir> <outDir> <seed>
"""
import os
import random
import shutil
import sys

import duckdb

# graft's own correctness tool (tools/compare.py) names the tables; its
# main() is guarded, so importing it has no side effects.
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from compare import TABLES  # noqa: E402

# Key domain -> the columns that reference it. A domain may name an inner
# domain whose values are a prefix subset of its own: the outer domain then
# maps those values through the inner bijection and permutes only the rest,
# so ids that two tables align on (events.user_id with c_custkey,
# embeddings.vec_id with doc_id) stay aligned.
DOMAINS = [
    ("region", None, [("region", "r_regionkey"), ("nation", "n_regionkey")]),
    ("nation", None, [("nation", "n_nationkey"), ("customer", "c_nationkey"),
                      ("supplier", "s_nationkey")]),
    ("user", None, [("events", "user_id")]),
    ("customer", "user", [("customer", "c_custkey"), ("orders", "o_custkey")]),
    ("supplier", None, [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")]),
    ("part", None, [("part", "p_partkey"), ("lineitem", "l_partkey")]),
    ("order", None, [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]),
    ("event", None, [("events", "event_id")]),
    ("vector", None, [("embeddings", "vec_id")]),
    ("document", "vector", [("documents", "doc_id")]),
]


def _values(con, src, refs):
    union = " UNION ".join(
        f"SELECT {c} AS k FROM read_parquet('{src}/{t}.parquet')" for t, c in refs)
    return [r[0] for r in con.execute(
        f"SELECT DISTINCT k FROM ({union}) WHERE k IS NOT NULL ORDER BY k").fetchall()]


def key_maps(con, src, seed):
    """Domain -> {old id: new id}, each a bijection of the domain's values."""
    maps = {}
    for name, inner, refs in DOMAINS:
        vals = _values(con, src, refs)
        rng = random.Random(f"{seed}:{name}")
        fixed = maps.get(inner, {})
        if not set(fixed) <= set(vals):
            raise ValueError(f"domain {name} does not contain {inner}")
        rest = [v for v in vals if v not in fixed]
        shuffled = rest[:]
        rng.shuffle(shuffled)
        m = {v: fixed[v] for v in vals if v in fixed}
        m.update(zip(rest, shuffled))
        if set(m.values()) != set(vals):
            raise ValueError(f"domain {name}: {inner} ids leave the domain's values")
        maps[name] = m
    return maps


def generate(src, out, seed):
    """Write the seeded lake for `seed` to `out` (replacing it)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    maps = key_maps(con, src, seed)
    col_domain = {(t, c): name for name, _, refs in DOMAINS for t, c in refs}
    for name, m in maps.items():
        con.execute(
            f"CREATE TABLE map_{name} AS SELECT unnest(?::BIGINT[]) AS k, "
            f"unnest(?::BIGINT[]) AS nk", [list(m.keys()), list(m.values())])
    for t in TABLES:
        path = f"{src}/{t}.parquet"
        cols = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()
        sel, joins = [], []
        for i, (c, typ, *_) in enumerate(cols):
            d = col_domain.get((t, c))
            if d is None:
                sel.append(f"s.{c}")
            else:
                joins.append(f"LEFT JOIN map_{d} m{i} ON s.{c} = m{i}.k")
                sel.append(f"CAST(m{i}.nk AS {typ}) AS {c}")
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM read_parquet('{path}', "
            f"file_row_number=true) s {' '.join(joins)} "
            f"ORDER BY md5('{seed}:' || s.file_row_number)) "
            f"TO '{tmp}/{t}.parquet' (FORMAT PARQUET)")
    con.close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
