"""DuckDB check of the query_mix catalog entry outputs against their oracle SQL.

The rule of tools/compare_oracle.py: columns sorted by name, row counts
equal, and every value equal once both sides are rendered as strings.
One allowance: two decimal numbers that differ by at most one step of
their last decimal place also match. Both engines round a floating sum
(`round(sum(x), 2)`, `round(avg(x), 4)`) whose value depends on the order
of the additions, and on generated data a sum lands next to a rounding
boundary now and then; a wrong result differs by more than that step.
"""
import glob
from decimal import Decimal, InvalidOperation

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["orders", "lineitem", "events", "documents"]


def _same(a, b):
    if a == b:
        return True
    if "." not in a or "." not in b or "e" in a + b:
        return False  # integers, text and exponent forms must match exactly
    try:
        x, y = Decimal(a), Decimal(b)
    except InvalidOperation:
        return False
    decimals = max(len(s.partition(".")[2]) for s in (a, b))
    return abs(x - y) <= Decimal(1).scaleb(-decimals)


def check_entries(table_dir, out_dir, oracles):
    """{entry: '' when the Spark output matches the oracle, else why not}."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    result = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            result[name] = "no Spark output"
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            result[name] = f"oracle error: {e}"
            continue
        got = pd.concat([pq.read_table(f).to_pandas() for f in files])
        exp = exp[sorted(exp.columns)].reset_index(drop=True)
        got = got[sorted(got.columns)].reset_index(drop=True)
        if list(exp.columns) != list(got.columns):
            result[name] = f"columns: duckdb {list(exp.columns)} spark {list(got.columns)}"
        elif len(exp) != len(got):
            result[name] = f"rows: duckdb {len(exp)} spark {len(got)}"
        else:
            bad = [c for c in exp.columns
                   if not all(map(_same, exp[c].astype(str), got[c].astype(str)))]
            result[name] = f"values differ in {bad}" if bad else ""
    return result
