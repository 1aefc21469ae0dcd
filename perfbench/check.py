"""Order-insensitive comparison of result rows from Spark and DuckDB."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter


def canon(v):
    """A hashable, engine-neutral form of one value: Spark ``Row`` and
    DuckDB struct dicts become tuples, lists become tuples, NaN becomes
    a marker (NaN != NaN), timestamps lose any tzinfo."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dict):
        return tuple(canon(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def multiset(cols: list[str], rows, keep: list[str] | None = None) -> tuple[list[str], Counter]:
    """The columns ``keep`` (default: all) sorted by name, and the rows
    projected onto them as a multiset."""
    names = sorted(cols if keep is None else keep)
    idx = [cols.index(c) for c in names]
    return names, Counter(tuple(canon(r[i]) for i in idx) for r in rows)


def close_rows(a: tuple, b: tuple, rel_tol: float = 1e-9) -> bool:
    """Field-wise equality, doubles within ``rel_tol``: Spark's AVG over
    doubles adds in partition order, so two physical plans of one query
    may differ in the last bits."""
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-12):
                return False
        elif x != y:
            return False
    return True
