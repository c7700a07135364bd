#!/usr/bin/env python3
"""Record the expected row count of every gate from DuckDB, not from graft.

Run from the root of a graft checkout:

    python3 perfbench/oracle_counts.py

It builds the harness (as run.py does), has it write SparkEntry.oracleSql to
a file, runs each query in DuckDB over perfbench/data/sf0.01 and writes the
row counts to perfbench/expected_rows.json. The one gate without an oracle
query, ax_approx_distinct, groups lineitem by l_returnflag; its row count is
the number of distinct l_returnflag values, taken by the query in EXTRA.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
EXTRA = {"ax_approx_distinct": "SELECT DISTINCT l_returnflag FROM lineitem"}
DATA = "sf0.01"


def main():
    cp = run.build(timeout=700)
    work = os.path.join(run.WORK, "oracle")
    os.makedirs(work, exist_ok=True)
    sql_file = os.path.join(work, "oracle_sql.json")
    code = run.run_bounded(run.java_cmd(cp, work, ["--dump-oracle", sql_file]),
                           run.ROOT, os.path.join(work, "dump.log"), 120)
    if code != 0:
        run.fail("could not dump SparkEntry.oracleSql")
    with open(sql_file) as f:
        queries = {**json.load(f), **EXTRA}
    data = os.path.join(run.HERE, "data", DATA)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    rows = {}
    for name, sql in sorted(queries.items()):
        rows[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    out = {
        "source": f"DuckDB {duckdb.__version__} running SparkEntry.oracleSql "
                  f"over data/{DATA}; ax_approx_distinct via the query in "
                  "oracle_counts.py EXTRA. Regenerate with "
                  "`python3 perfbench/oracle_counts.py`.",
        "data": f"data/{DATA}",
        "rows": rows,
    }
    with open(os.path.join(run.HERE, "expected_rows.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(rows)} gates recorded")


if __name__ == "__main__":
    main()
