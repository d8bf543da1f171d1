"""Order-insensitive comparison of an engine result with its DuckDB oracle:
same columns, same row count, same rows after normalising each cell (floats
to 6 decimals, timestamps to naive ISO strings, int and float kept apart)."""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import numpy as np


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (np.bool_, bool)):
        return ("b", bool(v))
    if isinstance(v, (np.floating, float, Decimal)):
        f = float(v)
        return ("f", "NaN") if math.isnan(f) else ("f", round(f, 6))
    if isinstance(v, (np.integer, int)):
        return ("i", int(v))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    return v


def _rows(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def frames_match(got, want) -> bool:
    return len(got) == len(want) and _rows(got) == _rows(want)
