#!/usr/bin/env python3
"""Writes perfbench/expected.json: for each benchmark query and each data
set under perfbench/data, the fingerprint (columns, row count, row hash)
of the DuckDB oracle's result. The oracle SQL is graft's own
SparkEntry.oracleSql. Run from the checkout root after a change to the
oracle SQL or the data:

    python3 perfbench/oracle.py
"""
import glob
import json
import os
import sys

import duckdb

import layers
import results
import run


def main():
    jars = run.build()
    work = os.path.join(run.RUN, "oracle")
    os.makedirs(work, exist_ok=True)
    events = run.Jvm(jars, work).run("perfbench.OracleDump", list(layers.QUERIES))
    sql = events[0]
    out = {}
    for q, (_, data) in layers.QUERIES.items():
        for d in (data, layers.SMOKE_DATA):
            con = duckdb.connect()
            for f in glob.glob(os.path.join(run.BENCH, "data", d, "*.parquet")):
                name = os.path.basename(f)[:-len(".parquet")]
                con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (name, f))
            out.setdefault(d, {})[q] = results.fingerprint(con.execute(sql[q]).df())
            print("%s on %s: %d rows" % (q, d, out[d][q]["rows"]), file=sys.stderr)
    with open(results.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
