"""SQL text for expressions that the JVM parses in one call.

Each PySpark `F.*` call costs three py4j round trips (two reflection
lookups and the call), so an expression made of many literals or many
small functions is far cheaper to build on the driver as SQL text
through `F.expr` or `DataFrame.selectExpr`. These helpers quote what
goes into that text.
"""

from __future__ import annotations

from collections.abc import Iterable


def ident(name: str) -> str:
    """`name` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string(s: str) -> str:
    """`s` as a SQL string literal (backslash escapes, Spark's default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double(x: float) -> str:
    """`x` as a DOUBLE literal: `repr` is the shortest text that reads
    back as the same float, and the `D` suffix keeps it a DOUBLE (a bare
    0.5 parses as a DECIMAL)."""
    return f"{float(x)!r}D"


def double_array(xs: Iterable[float]) -> str:
    """A literal array<double>."""
    return "array(%s)" % ", ".join(double(x) for x in xs)
