"""Output checks: an order-insensitive hash of a result set, shared by the
Spark side (``DataFrame.collect()``) and the DuckDB oracle (``fetchall()``),
and value comparison for façade calls."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np


def canon(v) -> str:
    """One value as a type-tagged string both engines agree on."""
    if v is None:
        return "N"
    if isinstance(v, (bool, np.bool_)):
        return "b1" if v else "b0"
    if isinstance(v, (int, np.integer)):
        return f"i{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "fnan"
        return "f" + repr(f + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, decimal.Decimal):
        return f"d{v.normalize()}" if v else "d0"
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        return "t" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row used as a struct value
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}"
                              for k, x in sorted(v.items(), key=lambda kv: canon(kv[0]))) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def result_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) over column names and rows, ignoring row and
    column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(lines), h.hexdigest()


def same_value(got, want, rel: float = 1e-9) -> bool:
    """Façade result vs oracle value. Floats compare with a relative
    tolerance, because a double sum depends on accumulation order; dicts and
    lists compare as sets of canonical items."""
    if isinstance(want, dict):
        return (isinstance(got, dict) and len(got) == len(want)
                and all(k in got and same_value(got[k], w, rel) for k, w in want.items()))
    if isinstance(want, (list, tuple)):
        if not isinstance(got, (list, tuple)) or len(got) != len(want):
            return False
        return all(same_value(g, w, rel) for g, w in zip(got, want))
    if isinstance(want, (float, decimal.Decimal)) and isinstance(
            got, (int, float, decimal.Decimal, np.integer, np.floating)):
        g, w = float(got), float(want)
        return g == w or math.isclose(g, w, rel_tol=rel, abs_tol=1e-12)
    return canon(got) == canon(want)
