"""Output checks: order-insensitive comparison of result frames.

Both sides are normalised (columns sorted by name, timestamps made naive,
list cells stringified, rows sorted) and compared cell by cell; floats
match within 1e-9 relative or one unit apart in their last rounded decimal,
everything else exactly. :func:`digest` is the same normalisation folded
into one hash, for checks that compare a result with itself across passes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime"):
            df[c] = pd.to_datetime(col).dt.tz_localize(None)
        elif col.dtype == object and col.map(
            lambda v: isinstance(v, (list, tuple, np.ndarray)), na_action="ignore"
        ).any():
            df[c] = col.map(lambda v: str(list(v)), na_action="ignore")
        elif col.dtype == object and col.map(
            lambda v: v is None or hasattr(v, "toordinal"), na_action="ignore"
        ).all():
            try:
                df[c] = pd.to_datetime(col)
            except (ValueError, TypeError):
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _decimals(x: np.ndarray) -> np.ndarray:
    """Number of decimals each value is rounded to (10 when it is not)."""
    out = np.full(x.shape, 10)
    scale = np.maximum(1.0, np.abs(x))
    for d in range(9, -1, -1):
        out = np.where(np.abs(np.round(x, d) - x) <= 1e-9 * scale, d, out)
    return out


def floats_match(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Equal within 1e-9 relative, or one unit apart in the last of two to
    nine rounded decimals: a sum rounded after accumulating in another
    order can land on the other side of a rounding boundary."""
    both_nan = np.isnan(x) & np.isnan(y)
    diff = np.abs(x - y)
    close = diff <= 1e-9 + 1e-9 * np.abs(y)
    d = np.maximum(_decimals(x), _decimals(y))
    flip = (d >= 2) & (d <= 9) & (diff <= 10.0 ** -np.minimum(d, 9) * (1 + 1e-6))
    return both_nan | close | flip


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else the first difference."""
    a, e = normalize(actual), normalize(expected)
    if len(a) != len(e):
        return f"row count {len(a)} != {len(e)}"
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} != {list(e.columns)}"
    for c in a.columns:
        av, ev = a[c], e[c]
        if av.dtype.kind == "f" or ev.dtype.kind == "f":
            bad = pd.Series(~floats_match(av.to_numpy(float), ev.to_numpy(float)))
        else:
            bad = ~((av.isna() & ev.isna()) | (av.astype(str) == ev.astype(str)))
        if bad.any():
            i = bad.idxmax()
            return f"column {c}: {int(bad.sum())} cells differ, first {av[i]!r} != {ev[i]!r}"
    return None


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result frame."""
    norm = normalize(df)
    h = hashlib.sha256(",".join(norm.columns).encode())
    h.update(pd.util.hash_pandas_object(norm.astype(str), index=False).values.tobytes())
    return h.hexdigest()[:16]
