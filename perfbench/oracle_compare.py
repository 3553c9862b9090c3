"""Compare a query's written output with its DuckDB oracle.

Rows are compared as a multiset; cells must be equal exactly (floats
bit-for-bit, NaN equal to NaN, timestamps to the nanosecond), and an
integer column never matches a float one, the rules graft's own oracle
gate applies.
"""
import glob
import math

import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(x):
    """A comparable form of one cell: arrays as lists, times as ns, NaN as None."""
    if isinstance(x, (np.ndarray, list, tuple)):
        return [_norm(v) for v in x]
    if isinstance(x, dict):
        return sorted((k, _norm(v)) for k, v in x.items())
    if isinstance(x, np.datetime64):
        return None if np.isnat(x) else int(x.astype("datetime64[ns]").astype(np.int64))
    if isinstance(x, pd.Timestamp):
        return x.value
    if x is None or x is pd.NaT:
        return None
    if isinstance(x, np.generic):
        x = x.item()
    if isinstance(x, float) and math.isnan(x):
        return None
    return x


def _kind(dtype):
    if np.issubdtype(dtype, np.integer):
        return "int"
    return "float" if np.issubdtype(dtype, np.floating) else "other"


def canonical(df):
    """A result as (column kinds by name, sorted normalised rows)."""
    cols = sorted(df.columns)
    rows = [tuple(_norm(v) for v in r) for r in zip(*(df[c].to_numpy() for c in cols))]
    return {c: _kind(df[c].dtype) for c in cols}, sorted(rows, key=repr)


def oracle(con, sql):
    return canonical(con.sql(sql).df())


def output(path):
    """The canonical form of the parquet result written under path."""
    files = glob.glob(f"{path}/*.parquet")
    if not files:
        return None
    return canonical(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))


def same(got, want):
    """Equal columns and rows; an int column never matches a float one."""
    if got is None or list(got[0]) != list(want[0]) or len(got[1]) != len(want[1]):
        return False
    for c, k in got[0].items():
        if {k, want[0][c]} == {"int", "float"}:
            return False
    return got[1] == want[1]
