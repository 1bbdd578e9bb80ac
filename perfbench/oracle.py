#!/usr/bin/env python3
"""Oracle digests for the registry_mix check.

    python3 perfbench/oracle.py

Run from the root of a checkout. Asks the program for the oracle SQL of
the listed registry queries (SparkEntry.oracleSql), runs each in DuckDB
over perfbench/registry/sf0.1 as tools/check.py does, and writes the
digest of each answer (check.digest) to perfbench/registry/oracle.json.
The run-time check compares the program's results with these digests,
so a run needs no DuckDB. Rerun only when the tables or the query list
change.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    root = os.getcwd()
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = run.build(root, work)
    sql_file = os.path.join(work, "oracle_sql.json")
    run.run_jvm(work, cp, ["oracle-sql", sql_file])
    with open(sql_file) as f:
        oracle_sql = json.load(f)
    data = os.path.join(run.REGISTRY, "sf0.1")
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data, t))
    digests = {}
    for q, sql in oracle_sql.items():
        t = con.execute(sql).arrow()
        if hasattr(t, "read_all"):
            t = t.read_all()
        cols = [c.to_pylist() for c in t.columns]
        digests[q] = check.digest(t.column_names, list(zip(*cols)) if cols else [])
        print(q, digests[q]["rows"])
    with open(os.path.join(run.REGISTRY, "oracle.json"), "w") as f:
        json.dump(digests, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
