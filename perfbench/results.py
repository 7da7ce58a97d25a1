"""Output checks for every benchmark op.

Query results are compared with fingerprints of the DuckDB oracle's
result (perfbench/expected.json, written by perfbench/oracle.py): the row
count plus an order-insensitive hash of the rows, with the values in the
canonical form graft's tools/check.py compares (columns sorted by name,
each value as pandas renders it with astype(str), nulls equal to nulls).
"""
import hashlib
import json
import os

import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(BENCH, "expected.json")


def fingerprint(df):
    cols = sorted(df.columns)
    rendered = pd.DataFrame({c: df[c].astype(str).where(~df[c].isna(), "\\N")
                             for c in cols}, index=range(len(df)))
    rows = pd.util.hash_pandas_object(rendered, index=False).to_numpy()
    rows.sort()
    return {"columns": cols, "rows": len(df),
            "hash": hashlib.sha256(rows.tobytes()).hexdigest()}


def expected(data_name):
    with open(EXPECTED) as f:
        return json.load(f)[data_name]


def check_query(path, want):
    """None when the result at `path` matches `want`, else the mismatch."""
    try:
        got = fingerprint(pd.read_parquet(path))
    except Exception as e:  # a missing or unreadable result is a wrong result
        return "unreadable result: %s" % str(e)[:200]
    for k in ("columns", "rows", "hash"):
        if got[k] != want[k]:
            return "%s: got %s, want %s" % (k, got[k], want[k])
    return None


def count_rows(path):
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


def check_etl(out, want_rows, want_files):
    """Production row counts per entity, and one tracker row per CSV file."""
    problems = []
    for entity, n in want_rows.items():
        try:
            got = count_rows(os.path.join(out, entity))
        except Exception as e:
            got = "unreadable (%s)" % str(e)[:120]
        if got != n:
            problems.append("%s rows: got %s, want %d" % (entity, got, n))
    try:
        names = pq.read_table(os.path.join(out, "etl_file_tracker"),
                              columns=["file_name"]).column(0).to_pylist()
    except Exception as e:
        names = ["unreadable (%s)" % str(e)[:120]]
    if len(names) != want_files or len(set(names)) != want_files:
        problems.append("tracker: %d rows over %d files, want one row for each of %d"
                        % (len(names), len(set(names)), want_files))
    return problems


def plant_wrong_table(path):
    """Self-test only: deletes the largest data file of a written table."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    if files:
        os.remove(max(files, key=os.path.getsize))
