"""Canonical result digests for the benchmark's output checks.

A result is canonicalised the way the repository's DuckDB-oracle
comparison does it (columns sorted by name, NaN -> None, timestamps to
ISO strings, arrays to tuples, rows order-insensitive), then reduced to
a SHA-256 so the oracle side can be computed once and committed.

Two values that compare equal in that comparison must digest equally,
so numbers are normalised further: booleans and integral floats become
ints, decimals become floats, and numpy scalars become Python scalars.
"""

from __future__ import annotations

import decimal
import hashlib
import math
from datetime import date, datetime


def canon_value(v):
    """One cell in canonical, repr-stable form."""
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        # numpy scalar or ndarray (Spark's toPandas yields arrays for lists)
        v = v.tolist()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if isinstance(v, datetime):
        import pandas as pd

        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon_value(x)) for k, x in v.items()))
    return v


def canon_rows(columns, rows) -> tuple[list[str], list[str]]:
    """Sorted column names and the sorted reprs of canonical rows.

    ``rows`` are tuples in ``columns`` order.  Sorting by repr gives a
    total order even over mixed types and None.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = sorted(repr(tuple(canon_value(row[i]) for i in order)) for row in rows)
    return cols, out


def digest_rows(columns, rows) -> dict:
    cols, lines = canon_rows(list(columns), rows)
    h = hashlib.sha256()
    h.update(("|".join(cols) + "\n").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "columns": cols, "sha256": h.hexdigest()}


def digest_frame(df) -> dict:
    """Digest of a pandas DataFrame (Spark ``toPandas`` or DuckDB ``fetchdf``)."""
    return digest_rows(list(df.columns), df.itertuples(index=False, name=None))


def check(got: dict, want: dict | None) -> str | None:
    """None when ``got`` matches ``want``; otherwise a one-line reason."""
    if want is None:
        return "no committed oracle digest"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["sha256"] != want["sha256"]:
        return "value digest differs"
    return None
