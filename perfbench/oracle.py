"""Compares dumped unit outputs with the DuckDB oracle over the same inputs.

The canonical form and the drift checks are the program's own, imported from
`tools/check_oracle.py`: columns sorted by name, rows sorted by every column,
then dtype kinds, exact values and their rendered text (-0.0 is not 0.0).

The oracle's answer depends only on its SQL and the input tables, so it is
kept in a cache directory under a digest of both and computed once per
checkout.
"""
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(__file__))), "tools"))
from check_oracle import canon, dtype_drift, render_drift  # noqa: E402


def compare(got, exp):
    """None when equal, else a one-line description of the first difference."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rowcount {len(g)} vs {len(e)}"
    if dtype_drift(g, e):
        return "dtype drift: " + dtype_drift(g, e)
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return "value mismatch: " + str(ex).split("\n")[0]
    rd = render_drift(g, e)
    return "render drift: " + rd if rd else None


def check(data_dir, out_dir, names, tables_digest, cache_dir):
    """Checks each named unit's dump; returns {name: error or None}.
    `tables_digest` identifies the input tables."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)

    def expected(sql):
        key = hashlib.sha256((tables_digest + "\n" + sql).encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        exp = con.execute(sql).fetchdf()
        exp.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return exp

    result = {}
    for name in names:
        dump = os.path.join(out_dir, "dumps", name)
        if name not in oracles:
            result[name] = "no oracle SQL for this unit"
        elif not os.path.isdir(dump):
            result[name] = "no output dump"
        else:
            try:
                result[name] = compare(pd.read_parquet(dump), expected(oracles[name]))
            except Exception as ex:  # an oracle or read failure is a failed check
                result[name] = f"{type(ex).__name__}: {ex}"
    con.close()
    return result
