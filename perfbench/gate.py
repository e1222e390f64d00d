"""Correctness gate: compare the engine's outputs with independent results.

Query outputs are checked against each query's DuckDB oracle
(`SparkEntry.oracleSql`) the way the engine's own local verifier,
tools/local_verify.py, does it, with that script's loaders: same columns,
same row count, same values in the same order, doubles bit-exact. The pipeline's published tables are checked against a DuckDB
recompute of the generated CDC history (see cdc.py).
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from local_verify import kind, load_result, normalize  # noqa: E402


def corrupt_frame(df):
    """Change one value of the expected result (self-test of the gate)."""
    df = df.copy()
    if len(df) == 0:
        return pd.DataFrame({"corrupted": [1]})
    c = df.columns[0]
    v = df[c].iloc[0]
    if pd.api.types.is_numeric_dtype(df[c]) and not pd.isna(v):
        df.loc[0, c] = v + 1
    else:
        df[c] = df[c].astype(object)
        df.loc[0, c] = f"{v}-corrupted"
    return df


def compare(got, exp):
    """None when equal, else a one-line reason. The checks are those of
    `local_verify.main`, in the same order."""
    got, exp = normalize(got), normalize(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    kinds = [(c, kind(got[c]), kind(exp[c])) for c in got.columns
             if kind(got[c]) != kind(exp[c])]
    if kinds:
        return f"dtype kinds {kinds}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            eq = (g.values == e.values) | (pd.isna(g.values) & pd.isna(e.values))
        else:
            eq = (g.astype(object).values == e.astype(object).values) | \
                 (pd.isna(g).values & pd.isna(e).values)
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"{c}[{i}]: {g.iloc[i]!r} vs {e.iloc[i]!r}"
    return None


def views(con, data_dir):
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def check_queries(data_dir, gate_dir, corrupt=""):
    """{query: ok} for every query dumped under gate_dir."""
    with open(os.path.join(gate_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    views(con, data_dir)
    result = {}
    for name, sql in sorted(oracles.items()):
        got = load_result(os.path.join(gate_dir, name))
        if got is None:
            print(f"[gate] FAIL {name}: no output", file=sys.stderr)
            result[name] = False
            continue
        try:
            rel = con.sql(sql)
            huge = [c for c, t in zip(rel.columns, rel.types)
                    if "HUGEINT" in str(t).upper()]
            exp = rel.df()
        except Exception as e:  # an oracle error is a failed check
            print(f"[gate] FAIL {name}: oracle error {e}", file=sys.stderr)
            result[name] = False
            continue
        if name == corrupt:
            exp = corrupt_frame(exp)
        why = f"oracle HUGEINT columns {huge}" if huge else compare(got, exp)
        if why:
            print(f"[gate] FAIL {name}: {why}", file=sys.stderr)
        result[name] = why is None
    return result
