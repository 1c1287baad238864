"""Output checks: order-insensitive frame comparison and row-set digests.

``same_rows`` is as strict as ``tools/check_oracle.py``: same column
set, same row count, and the same multiset of rows after each cell is
stringified dtype-preservingly (``repr`` for floats, so ``1435.0`` never
equals ``1435``).
"""

from __future__ import annotations

import hashlib
import json
import math

import numpy as np
import pandas as pd


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return json.dumps({k: norm_cell(x) for k, x in v.items()}, sort_keys=True)
    if pd.isna(v):
        return "NULL"
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    # column-wise: iterrows() would upcast mixed int/float rows
    col_cells = [[norm_cell(v) for v in df[c].tolist()] for c in cols]
    rows = [tuple(cells) for cells in zip(*col_cells)] if cols else []
    rows.sort()
    return rows


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a short description of the first problem."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    a, b = canon(got), canon(want)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {diff}"
    return None


def digest(df: pd.DataFrame, drop=("_created_at",)) -> str:
    """Order-insensitive sha256 of a frame's row set."""
    keep = df[[c for c in df.columns if c not in drop]]
    h = hashlib.sha256("|".join(sorted(keep.columns)).encode())
    for row in canon(keep):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()
