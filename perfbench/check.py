"""Result checks: a Spark result against its DuckDB oracle, and a stream's
output against its batch twin.

The oracle comparison follows the repository's test harness: same row
count, same column-name set, and values equal row by row after both
sides are sorted by all columns, with floats equal to a relative
tolerance of 1e-9. Decimals compare as numbers, timestamps as naive UTC
instants, so the comparison does not depend on which engine produced a
value's Python type.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
from collections import Counter
from collections.abc import Iterable, Sequence

import duckdb
import numpy as np
import pandas as pd


def _norm(v):
    """One cell as a plain, comparable Python value (None for NULL/NaN)."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, np.datetime64):
        v = pd.Timestamp(v).to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, dt.date):
        # engines disagree on DATE vs midnight TIMESTAMP for day buckets
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def _sort_key(v) -> tuple:
    # NULLs first; numbers of either type share one group; arrays and
    # structs order element by element
    if v is None:
        return (0,)
    if isinstance(v, tuple):
        return (2, tuple(_sort_key(x) for x in v))
    return (1, "num" if isinstance(v, (int, float)) else type(v).__name__, v)


def canonical(columns: Sequence[str], rows: Iterable[Sequence]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, each row re-ordered to match and
    normalised, rows sorted by all columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)  # a row is a tuple, so it orders cell by cell
    return [columns[i] for i in order], out


def _cell_eq(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols: Sequence[str], got_rows: Sequence[Sequence],
            want_cols: Sequence[str], want_rows: Sequence[Sequence]) -> str | None:
    """None when the results agree, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} != {len(want_rows)}"
    cols, got = canonical(got_cols, got_rows)
    _, want = canonical(want_cols, want_rows)
    for i, (g, w) in enumerate(zip(got, want)):
        for c, a, b in zip(cols, g, w):
            if not _cell_eq(a, b):
                return f"row {i} column {c}: {a!r} != {b!r}"
    return None


def same_multiset(got_cols: Sequence[str], got_rows: Iterable[Sequence],
                  want_cols: Sequence[str], want_rows: Iterable[Sequence]) -> str | None:
    """Exact equality of two row multisets with the same columns, matched
    by name (stream output vs batch twin), or a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    order = [list(got_cols).index(c) for c in want_cols]
    g = Counter(tuple(_norm(r[i]) for i in order) for r in got_rows)
    w = Counter(tuple(_norm(v) for v in r) for r in want_rows)
    if g == w:
        return None
    extra, missing = g - w, w - g
    return (
        f"{sum(extra.values())} unexpected rows (e.g. {next(iter(extra), None)!r}), "
        f"{sum(missing.values())} missing (e.g. {next(iter(missing), None)!r})"
    )


class Oracle:
    """DuckDB views over one directory of ``<table>.parquet`` files."""

    def __init__(self, data_dir: str, tables: Iterable[str]):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def close(self) -> None:
        self.con.close()
