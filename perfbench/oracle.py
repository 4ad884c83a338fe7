"""DuckDB oracle check for the query mix.

Each query's Spark result (one parquet directory per query) is compared
with its oracle SQL run in DuckDB over the same input tables: columns
sorted by name, rows stringified and sorted, then compared exactly.
"""
import decimal
import glob
import json
import os

import duckdb


def _cell(v):
    if v is None or v != v:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted("\x1f".join(_cell(v) for v in row) for row in df.itertuples(index=False, name=None))


def compare(data_dir, results_dir):
    """Returns {query: ""} for a match, {query: reason} otherwise."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    out = {}
    for q, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM '{os.path.join(results_dir, q)}/*.parquet'").df()
            want = con.sql(sql).df()
        except Exception as e:  # a missing result or a broken oracle is a failure
            out[q] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            out[q] = f"schema {sorted(got.columns)} vs {sorted(want.columns)}"
        elif _canon(got) != _canon(want):
            out[q] = f"values differ ({len(got)} vs {len(want)} rows)"
        else:
            out[q] = ""
    con.close()
    return out
