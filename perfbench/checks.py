"""Output checks for one benchmark process, run after it exits (untimed).

`oracle` compares registered queries with `SparkEntry.oracleSql` run by
DuckDB on the same generated tables, canonicalized the way the
repository's `tools/check.py` does it (columns sorted by name, rows
sorted by value; exact on ints/strings, 1e-9 on floats, int vs float is
a mismatch). It returns {query: None if equal, else the reason}.

The oracle SQL runs with every non-recursive CTE marked MATERIALIZED:
DuckDB otherwise re-evaluates the part-graph CTE (a lineitem self-join)
at each reference, and the unrolled PageRank oracle alone takes ~10 s.
Materializing changes how a query is evaluated, not what it returns.
"""
import glob
import json
import os
import re

import duckdb
import pandas as pd

def _read(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) \
        if files else pd.DataFrame()


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(s):
    return {"i": "i", "u": "i", "b": "b", "f": "f", "M": "M"}.get(s.dtype.kind, "o")


def compare(got, exp):
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    for c in g.columns:
        if _kind(g[c]) != _kind(e[c]) and {_kind(g[c]), _kind(e[c])} <= {"i", "f"}:
            return f"column {c} type {g[c].dtype} != {e[c].dtype}"
        if _kind(g[c]) == "M":
            g[c], e[c] = g[c].astype("datetime64[us]"), e[c].astype("datetime64[us]")
    floats = [c for c in g.columns if _kind(g[c]) == "f"]
    exact = [c for c in g.columns if c not in floats]
    try:
        if exact:
            pd.testing.assert_frame_equal(g[exact], e[exact], check_dtype=False,
                                          check_exact=True)
        if floats:
            pd.testing.assert_frame_equal(g[floats], e[floats], check_dtype=False,
                                          check_exact=False, rtol=1e-9, atol=1e-9)
    except AssertionError as ex:
        return " | ".join(str(ex).split("\n")[:3])
    return None


def oracle(data_dir, check_dir, names):
    sql = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for n in names:
        if n not in sql:
            out[n] = "no oracle SQL registered"
            continue
        try:
            exp = con.execute(re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql[n])).fetchdf()
        except Exception as ex:  # an oracle that cannot run is a failed check
            out[n] = f"oracle error: {ex}"
            continue
        out[n] = compare(_read(os.path.join(check_dir, n)), exp)
    return out
