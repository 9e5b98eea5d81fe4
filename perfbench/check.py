"""Order-insensitive canonical form of a query result.

Both engines' rows become sorted lists of strings over columns sorted by
name, so a Spark ``Row`` list and a DuckDB ``fetchall()`` compare
directly. Values must agree exactly, as in the registry's oracle gate;
only the spelling of types differs between the engines (``None`` and
NaN are both null, DECIMAL and DOUBLE both render as a float).
"""

from __future__ import annotations

import datetime
import decimal
import math


def _value(v) -> str:
    if v is None:
        return "null"
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):
        v = v.item()  # numpy scalar
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "null" if math.isnan(f) else repr(f)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_value(x) for x in v) + "]"
    return str(v)


def canonical_rows(columns: list[str], rows) -> list[str]:
    """Canonical form of rows given as sequences in ``columns`` order:
    Spark ``Row`` objects or DuckDB ``fetchall()`` tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "|".join(columns[i] for i in order)
    body = sorted("|".join(_value(r[i]) for i in order) for r in rows)
    return [header] + body

