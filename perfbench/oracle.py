#!/usr/bin/env python3
"""DuckDB oracle for the `analytics` workload's catalog queries.

`canon` hashes a result the way the repository's oracle checker does:
columns sorted by name, each value by `repr`, rows sorted, SHA-256.

Regenerate the stored oracle (perfbench/oracle.json) after running the
`analytics` workload once, from the `oracle_sql.json` that run wrote:

    python3 perfbench/oracle.py .bench_build/perfbench/oracle_sql.json

It runs each query's oracle SQL in DuckDB over perfbench/data/sf0.01 and
stores the SQL, the row count and the hash.
"""
import hashlib
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE = os.path.join(HERE, "oracle.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for t in out:
        h.update("\x1f".join(t).encode())
        h.update(b"\x1e")
    return h.hexdigest(), len(out)


def result_hash(con, sql):
    rel = con.sql(sql)
    return canon(rel.fetchall(), [c.lower() for c in rel.columns])


def connect_tables():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    return con


def main(sql_json):
    sqls = json.load(open(sql_json))
    con = connect_tables()
    out = {}
    for name in sorted(sqls):
        h, n = result_hash(con, sqls[name])
        out[name] = {"sql": sqls[name], "rows": n, "hash": h}
        print(f"{name}: {n} rows {h[:12]}")
    with open(ORACLE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
