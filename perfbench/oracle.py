"""Row check of batch query results against their DuckDB twins.

Each query's Spark result is written as parquet under `<out>/<name>/`
next to `<out>/oracle_sql.json`; the twin runs in DuckDB over the same
input tables. Columns are compared by name and rows as sorted, stringified
tuples.
"""
import glob
import json
import os

import duckdb


def compare(data_dir, out_dir, names):
    """Return a list of problems; empty when every query matches its twin."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        twins = json.load(fh)
    problems = []
    for name in names:
        if name not in twins:
            problems.append(f"{name}: no DuckDB twin")
            continue
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no Spark output")
            continue
        try:
            want = con.sql(twins[name]).df()
        except Exception as e:  # the twin itself must run
            problems.append(f"{name}: twin failed: {e}")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            problems.append(f"{name}: columns {cols} vs {sorted(want.columns)}")
            continue
        rows = lambda df: sorted("|".join(r) for r in df[cols].astype(str).values.tolist())
        if rows(got) != rows(want):
            problems.append(f"{name}: rows differ ({len(got)} vs {len(want)})")
    con.close()
    return problems
