#!/usr/bin/env python3
"""query_mix checker: each query's written result against its oracle SQL
run in DuckDB over the same tables, value for value: columns sorted by
name, rows canonicalised (repr of each value, NaN spelled out) and sorted,
then compared exactly.

    python3 fraudbench/check_queries.py <tables dir> <results dir>
"""
import glob
import json
import math
import os
import sys


def canon(df):
    rows = []
    for row in df.itertuples(index=False):
        rows.append(tuple("NaN" if isinstance(v, float) and math.isnan(v) else repr(v) for v in row))
    rows.sort()
    return rows


def compare(name, got, exp):
    """Returns None when `got` equals `exp` (two DataFrames), else why not."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"{name}: columns {list(got.columns)} vs oracle {list(exp.columns)}"
    g, e = canon(got), canon(exp)
    if g != e:
        diffs = [(a, b) for a, b in zip(g, e) if a != b]
        first = diffs[0] if diffs else (g[:1], e[:1])
        return f"{name}: {len(g)} vs {len(e)} rows, {len(diffs)} differ; first {first}"
    return None


def check(tables_dir, out_dir):
    """Returns the list of problems (empty when every result matches)."""
    import duckdb
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        table = os.path.basename(path)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.sql(sql).df()
            got = con.sql(f"SELECT * FROM '{os.path.join(out_dir, name)}/*.parquet'").df()
        except Exception as e:  # a failing oracle or unreadable result is a failed check
            problems.append(f"{name}: {type(e).__name__}: {e}")
            continue
        p = compare(name, got, exp)
        if p:
            problems.append(p)
    return problems


if __name__ == "__main__":
    ps = check(sys.argv[1], sys.argv[2])
    for p in ps:
        print("FAIL", p)
    print(f"{len(ps)} problems")
    sys.exit(1 if ps else 0)
