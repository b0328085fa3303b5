"""Result comparison against a reference engine.

A result is reduced to a canonical frame: lower-case column names in
sorted order, timestamps as integer microseconds, strings as ``str``,
rows sorted by every column. Two canonical frames match when they have
the same shape and columns, equal non-float values, and floats equal
within a tolerance that absorbs summation-order differences between
engines (Spark and DuckDB round ``ROUND(x, 4)`` sums computed in
different orders; the last printed digit may differ by one).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

FLOAT_ABS_TOL = 2e-4
FLOAT_REL_TOL = 1e-9


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [str(c).lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        else:
            df[c] = s.map(_as_text)
    # Sort on rounded floats so that engine-level float noise cannot
    # reorder otherwise equal rows.
    key = df.copy()
    for c in key.columns:
        if pd.api.types.is_float_dtype(key[c]):
            key[c] = key[c].round(3)
    order = key.sort_values(by=list(key.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def _as_text(v) -> str:
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_as_text(x) for x in v) + "]"
    if isinstance(v, float) and v != v:
        return "NaN"
    return str(v)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when the canonical frames match, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype("float64"), b.astype("float64")
            ok = np.isclose(a, b, rtol=FLOAT_REL_TOL, atol=FLOAT_ABS_TOL, equal_nan=True)
        else:
            ok = a == b
        if not np.all(ok):
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None
