"""Checks query-suite results against the DuckDB oracle SQL.

The comparison is the repository's oracle gate, imported from
tools/check_oracle.py: columns sorted by name, rows sorted by all cells
(None last, by string form), then compared cell by cell. A float equal only
within the gate's tolerance counts as a mismatch, since the gate hashes
exactly.
"""
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check_oracle import TABLES, canon, cells_equal  # noqa: E402


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal after canonicalisation, else the first difference."""
    gc, gr = canon(got_rows, got_cols)
    ec, er = canon(exp_rows, exp_cols)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != {len(er)}"
    for g, e in zip(gr, er):
        for x, y in zip(g, e):
            ok, drifted = cells_equal(x, y)
            if not ok or drifted:
                return f"first mismatch: got={g} exp={e}"
    return None


def check(results_dir, corpus_dir):
    """Compare every query named in oracle_sql.json with its oracle SQL.

    A query whose SQL is null has no oracle and fails. Returns
    (checked, failures) where failures is a list of messages."""
    import duckdb
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(corpus_dir, t + '.parquet')}')")
    failures = []
    for name, sql in sorted(oracle.items()):
        if sql is None:
            failures.append(f"{name}: no oracle SQL")
            continue
        try:
            got = con.sql("SELECT * FROM read_parquet("
                          f"'{os.path.join(results_dir, name, '*.parquet')}')")
            exp = con.sql(sql)
            diff = compare(got.columns, got.fetchall(), exp.columns, exp.fetchall())
        except Exception as e:  # a query that cannot be checked has failed
            diff = f"error: {e}"
        if diff:
            failures.append(f"{name}: {diff}")
    return len(oracle), failures
