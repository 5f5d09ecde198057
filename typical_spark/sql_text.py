"""SQL text for expressions that the JVM parses in one call.

Each PySpark `F.*` call costs three py4j round trips (two reflection
lookups and the call), so an expression made of many literals or many
small functions is far cheaper to build on the driver as SQL text
through `F.expr` or `DataFrame.selectExpr`. These helpers quote what
goes into that text.

Never print a Column back to text instead: `ColumnNode.sql()` writes
`and(…)`, `>=(a, b)` and bare timestamps, which do not parse back.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from collections.abc import Iterable

_INT_MAX = 2**31 - 1
_LONG_MAX = 2**63 - 1


def ident(name: str) -> str:
    """`name` as one quoted SQL identifier: a top-level column named
    exactly `name`, dots and all (as `df.schema` lists it)."""
    return "`" + name.replace("`", "``") + "`"


def path(name: str) -> str:
    """`name` as a column reference read the way `F.col` reads it: a dot
    separates the parts of a nested field path (`a.b` is field `b` of
    struct `a`)."""
    return ".".join(map(ident, name.split(".")))


def string(s: str) -> str:
    """`s` as a SQL string literal (backslash escapes, Spark's default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double(x: float) -> str:
    """`x` as a DOUBLE literal: `repr` is the shortest text that reads
    back as the same float, and the `D` suffix keeps it a DOUBLE (a bare
    0.5 parses as a DECIMAL). NaN and ±inf have no literal spelling."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('%sInfinity' AS DOUBLE)" % ("-" if x < 0 else "")
    return f"{x!r}D"


def double_array(xs: Iterable[float]) -> str:
    """A literal array<double>."""
    return "array(%s)" % ", ".join(double(x) for x in xs)


def literal(v: object) -> str:
    """A Python value as the SQL literal `F.lit` would make of it: an int
    is an INT, or a BIGINT (`L`) beyond INT range, or a DECIMAL beyond
    BIGINT range; a float a DOUBLE; a datetime a TIMESTAMP and a date a
    DATE, read in the session time zone when naive."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if -_INT_MAX - 1 <= v <= _INT_MAX:
            return str(v)
        if -_LONG_MAX - 1 <= v <= _LONG_MAX:
            return f"{v}L"
        return f"{v}BD"
    if isinstance(v, float):
        return double(v)
    if isinstance(v, decimal.Decimal):
        return f"{v}BD"
    if isinstance(v, str):
        return string(v)
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def in_list(x: str, values: Iterable[object]) -> str:
    """`x IN (values…)`; FALSE for no values (SQL has no empty IN list,
    and Spark's empty In is false)."""
    vals = [literal(v) for v in values]
    return f"({x} IN ({', '.join(vals)}))" if vals else "FALSE"


def array(values: Iterable[object]) -> str:
    """A literal array of `values`."""
    return "array(%s)" % ", ".join(literal(v) for v in values)
