"""Spark SQL text for the staged projections of the flagship plan.

A column built from Python ``Column`` objects costs one Py4J round trip
per expression node (and per literal), so a deep feature expression
costs hundreds of driver↔JVM crossings before a single row is read. The
same column written as SQL text costs one ``F.expr``: the JVM parses it
in one call. The flagship stages (``with_langid``,
``with_quality_features``, ``label_pages``' predicates and the
pipeline's reason chain) are therefore generated as SQL text from the
module constants, and every Python value enters that text through
:func:`sql_lit` (literals) or :func:`sql_ident` (column names), so a
stopword or pattern containing ``'`` or ``\\`` cannot break or change
the expression.
"""

from __future__ import annotations

import math

_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1


def sql_lit(value: str | bool | int | float) -> str:
    """``value`` as a Spark SQL literal of the type ``F.lit`` would give
    it: strings are single-quoted with ``\\`` and ``'`` escaped (Spark
    unescapes backslash sequences in string literals), ints outside the
    32-bit range get the BIGINT suffix, floats the DOUBLE suffix (a bare
    ``0.5`` would parse as DECIMAL)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        text = str(value) if _INT_MIN <= value <= _INT_MAX else f"{value}L"
    elif isinstance(value, float):
        if not math.isfinite(value):
            raise ValueError(f"no SQL literal for {value!r}")
        text = f"{value!r}D"
    elif isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    else:
        raise TypeError(f"no SQL literal for {type(value).__name__}")
    return f"({text})" if text.startswith("-") else text


def sql_ident(name: str) -> str:
    """A column name as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_in(expr: str, values) -> str:
    """``expr IN (v1, v2, ...)`` over literal values."""
    return f"{expr} IN ({', '.join(sql_lit(v) for v in values)})"


class SqlExpr:
    """SQL text that composes with the operators a ``Column`` rule uses
    (``<=``, ``>=``, ``between``, ``&``, ``~``). A rule written once
    over its operands (``quality.gopher_keep``) returns a Column when
    given Columns and SQL text when given SqlExprs, so Column callers
    keep their API while the pipeline embeds the same rule in one SQL
    CASE."""

    __slots__ = ("sql",)

    def __init__(self, sql: str):
        self.sql = sql

    def __str__(self) -> str:
        return self.sql

    def _op(self, op: str, other) -> SqlExpr:
        rhs = other.sql if isinstance(other, SqlExpr) else sql_lit(other)
        return SqlExpr(f"({self.sql} {op} {rhs})")

    def __le__(self, other) -> SqlExpr:
        return self._op("<=", other)

    def __ge__(self, other) -> SqlExpr:
        return self._op(">=", other)

    def __and__(self, other) -> SqlExpr:
        return self._op("AND", other)

    def __invert__(self) -> SqlExpr:
        return SqlExpr(f"(NOT {self.sql})")

    def between(self, lower, upper) -> SqlExpr:
        return (self >= lower) & (self <= upper)


def sql_cols(*names: str) -> list[SqlExpr]:
    """SqlExpr operands for the named columns."""
    return [SqlExpr(sql_ident(n)) for n in names]
