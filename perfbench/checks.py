"""Output checks: frame comparison and a type-faithful canonical hash."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def _cell(v) -> str:
    """Canonical text of one value: floats stay floats (``3.0`` is not
    ``3``), rounded to 9 places."""
    if v is None:
        return "@N"
    if isinstance(v, (float, np.floating)):
        return "@N" if math.isnan(v) else repr(round(float(v), 9))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's rows over its sorted columns."""
    cols = sorted(df.columns)
    rows = sorted("|".join(_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def same_rows(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """Exact multiset equality of two frames with integer/string columns;
    returns a description of the first difference, or ``None``."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    cols = [*keys, *sorted(c for c in want.columns if c not in keys)]
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        diff = np.flatnonzero(av != bv)
        if len(diff):
            i = diff[0]
            return f"{len(diff)} rows differ in {c}; first: {a.iloc[i].to_dict()} vs {b.iloc[i].to_dict()}"
    return None


def close_rows(got: pd.DataFrame, want: pd.DataFrame, rel: float = 1e-9) -> str | None:
    """Row-wise equality after sorting on every column, with floats equal
    to a relative tolerance (engines sum doubles in different orders)."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    cols = list(want.columns)
    a = got.sort_values(cols).reset_index(drop=True)
    b = want.sort_values(cols).reset_index(drop=True)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            bad = ~np.isclose(av.astype(float), bv.astype(float), rtol=rel, atol=0.0)
        else:
            bad = av != bv
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return f"column {c} row {i}: {av[i]!r} != {bv[i]!r}"
    return None
