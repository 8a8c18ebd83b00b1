"""Order-insensitive value digests of query results.

A result is digested the way the repo's oracle compare sees it: columns
sorted by name, rows compared as a multiset, floats bit-exact. Spark
rows and DuckDB rows render to the same canonical text, so a digest
computed once from a DuckDB oracle checks every later Spark run.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def _canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"i{int(v)}"
        return _canon(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        if v.is_integer() and abs(v) < 2**53:
            return f"i{int(v)}"
        return f"f{v.hex()}"
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return f"t{v.isoformat()}"
    if isinstance(v, str):
        return "s" + v.replace("\\", "\\\\").replace("|", "\\|")
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if hasattr(v, "asDict"):  # a Spark struct; DuckDB returns a dict
        v = v.asDict()
    if isinstance(v, dict):
        items = sorted((_canon(k), _canon(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return "r" + repr(v)


def digest(columns: list[str], rows) -> dict:
    """{"rows": n, "sha256": hex} for a result; row order and column
    order do not matter."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(("|".join(sorted(columns)) + "\n").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "sha256": h.hexdigest()}
