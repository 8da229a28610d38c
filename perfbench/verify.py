"""Result checks: typed row normalisation and order-free row digests.

The normalisation follows the typed compare of ``tools/verify_gate.py``:
columns are matched by lower-cased name, bool/int/float are coerced to
their Python types, floats compare exactly with NaN equal to NaN, and row
order is ignored. Each row becomes one canonical JSON text, so a result
set can be compared, or committed, as a sorted list or as its SHA-256.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
from collections.abc import Iterable, Sequence


def canon_value(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else float(v)  # -0.0 == 0.0 in the typed compare
    if isinstance(v, decimal.Decimal):
        return {"dec": str(v.normalize())} if v != 0 else {"dec": "0"}
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, dict):
        return {str(k): canon_value(x) for k, x in sorted(v.items())}
    if hasattr(v, "asDict"):  # pyspark Row inside a struct column
        return canon_value(v.asDict())
    if isinstance(v, (list, tuple)):
        return [canon_value(x) for x in v]
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def canon_rows(columns: Sequence[str], rows: Iterable[Sequence]) -> list[str]:
    """Sorted canonical JSON text of each row, columns ordered by
    lower-cased name."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    return sorted(
        json.dumps([canon_value(row[i]) for i in order], separators=(",", ":"))
        for row in rows
    )


def digest(canon: list[str]) -> str:
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def expected_entry(columns: Sequence[str], rows: Iterable[Sequence], keep_rows: int) -> dict:
    """What the expected-results file records for one result set: its
    columns, row count and digest, plus the rows themselves when there are
    at most ``keep_rows`` of them (for reading a failure by eye)."""
    canon = canon_rows(columns, rows)
    entry = {
        "columns": sorted(c.lower() for c in columns),
        "rows": len(canon),
        "sha256": digest(canon),
    }
    if len(canon) <= keep_rows:
        entry["canon"] = canon
    return entry


def check_rows(expected: dict, columns: Sequence[str], rows: Iterable[Sequence]) -> str | None:
    """None when the result set equals the expected one, else the reason."""
    cols = sorted(c.lower() for c in columns)
    if cols != expected["columns"]:
        return f"columns {cols} != {expected['columns']}"
    canon = canon_rows(columns, rows)
    if len(canon) != expected["rows"]:
        return f"{len(canon)} rows != {expected['rows']}"
    if digest(canon) != expected["sha256"]:
        return "row digest differs"
    return None
