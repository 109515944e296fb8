#!/usr/bin/env python3
"""Record the expected result of every board query in queries.json.

    python3 perfbench/record.py [query ...]

Runs the chosen board queries (default: every query the board times)
through the harness at the board's data directory, writes each result
to parquet and compares it with the query's DuckDB oracle the way
tools/check_oracle.py does. A query that matches gets its row count and
digest recorded; one that does not is recorded as `oracle_fail`, and
the benchmark counts it as failed on every run.
"""
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import run  # noqa: E402
from check_oracle import TABLES, norm  # noqa: E402


def main(names):
    qpath = os.path.join(HERE, "queries.json")
    queries = json.load(open(qpath))
    sf = os.path.join(ROOT, run.CFG["board"]["sf_dir"])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    todo = [q for q in queries["timed"] if not names or q in names]
    rec = os.path.join(ROOT, ".bench_runs", "record")
    shutil.rmtree(rec, ignore_errors=True)
    os.makedirs(rec)
    _, _, out = run.run_once(ROOT, "board", 1, 0, 1, {"queries": todo, "record_dir": rec})
    for q in out["queries"]:
        name = q["name"]
        if not q["ok"]:
            e = {"oracle_fail": f"spark error: {q.get('error')}"}
        else:
            got = norm(pd.read_parquet(os.path.join(rec, name)))
            exp = norm(con.sql(out["oracle_sql"][name]).df())
            e = ({"rows": q["rows"], "digest": q["digest"]} if got.equals(exp)
                 else {"oracle_fail": f"{len(got)} rows vs oracle {len(exp)}"})
        queries["expected"][name] = e
        print(name, e, flush=True)
    shutil.rmtree(rec, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(rec))
    except OSError:
        pass
    with open(qpath, "w") as f:
        json.dump(queries, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(set(sys.argv[1:]))
