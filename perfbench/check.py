"""Output checks, computed outside the engine.

Query outputs are compared with the DuckDB twin SQL the engine registers
in ``queries.ORACLES``: same columns, same row count, and the same rows as
a multiset. Floats match when they agree to 1e-9 relative or to one unit
of the last decimal the oracle keeps: 1.01e-6 absolute for the
``ROUND(x, 6)`` / ``floor(x * 1e6 + 0.5) / 1e6`` columns, and 0.0101 for
the one column rounded to cents, where a different summation order can
flip the last digit.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1.01e-6
# (query, column) -> absolute tolerance, where coarser than ABS_TOL.
COLUMN_ABS_TOL = {("stream_windowed_counts", "sum_value"): 0.0101}


def duck_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _cell(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (np.integer, bool, np.bool_)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, pd.Timestamp):
        return v.tz_convert(None).to_datetime64() if v.tzinfo else v.to_datetime64()
    if v is pd.NaT:
        return None
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_cell(v) for v in r) for r in df.itertuples(index=False, name=None)]
    # Pair rows by their exact (non-float) cells first, floats last.
    def key(r):
        exact = tuple(repr(c) for c in r if not isinstance(c, float))
        return exact, tuple(c for c in r if isinstance(c, float))

    return sorted(rows, key=key)


def _same(a, b, abs_tol: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=abs_tol)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y, abs_tol) for x, y in zip(a, b))
    return a == b


def compare(query: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else a one-line reason."""
    columns = sorted(got.columns)
    if columns != sorted(want.columns):
        return f"columns {columns} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    tols = [COLUMN_ABS_TOL.get((query, c), ABS_TOL) for c in columns]
    for i, (x, y) in enumerate(zip(_rows(got), _rows(want))):
        if not (len(x) == len(y) and all(_same(a, b, t) for a, b, t in zip(x, y, tols))):
            return f"sorted row {i}: {x} != {y}"
    return None

