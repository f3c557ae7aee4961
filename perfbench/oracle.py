"""Output check: a query's Spark result against its DuckDB oracle.

The rule is the repository's oracle-parity rule: same column names, same row
count, same coarse dtype kind per column, and the same values once rows are
sorted (order-insensitive), with floats rounded to 6 places and compared with
a 1e-9 tolerance. It is restated here rather than imported from the test
suite so that the benchmark's check stays fixed while tests change.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table. A table stored as a
    directory of part files is registered through a ``/*.parquet`` glob."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    return con


def _kind(series: pd.Series) -> str | None:
    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind in "fbM":
        return {"f": "float", "b": "bool", "M": "datetime"}[kind]
    non_null = series.dropna()
    if non_null.empty:
        return None  # all null: unknowable, skip
    v = non_null.iloc[0]
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return "obj"


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for rec in df[cols].to_dict("records"):
        row = []
        for c in cols:
            v = rec[c]
            if hasattr(v, "item"):  # numpy scalar
                v = v.item()
            row.append(round(v, 6) if isinstance(v, float) else v)
        out.append(tuple(row))
    out.sort(key=repr)
    return out


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want``; else why it does not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for col in got.columns:
        gk, wk = _kind(got[col]), _kind(want[col])
        if gk is not None and wk is not None and gk != wk:
            return f"column {col}: dtype kind {gk} != oracle {wk}"
    for g, w in zip(_rows(got), _rows(want)):
        if not all(_close(x, y) for x, y in zip(g, w)):
            return f"first differing row {g} != oracle {w}"
    return None
