r"""Spark SQL text for constant expressions.

Each Column-API call is one or more py4j round trips (a Column method also
records its call site, ~10 round trips); ``F.expr`` of a SQL string is
three, whatever the expression's size. The run path therefore writes its
constant expression batteries as SQL text, built from these quoting
helpers, and keeps Column objects only where a pandas UDF or a caller's
Column enters.

Literals assume Spark's default literal escaping
(``spark.sql.parser.escapedStringLiterals=false``): a backslash in SQL text
starts an escape, so the regex ``\S`` is written ``'\\S'``.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, embedded
    backticks doubled. Any name that a DataFrame column can carry (spaces,
    dots, backticks) names that one top-level column."""
    return "`" + name.replace("`", "``") + "`"


def string(value: str) -> str:
    """A string literal: backslash and single quote escaped, everything
    else (non-ASCII included) verbatim."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double(value: float) -> str:
    """A DOUBLE literal. A bare ``0.1`` parses as DECIMAL(1,1); the ``D``
    suffix keeps the type a Python float has as a Column literal."""
    return f"{float(value)!r}D"


def doubles(values) -> str:
    """An ``array<double>`` literal, e.g. percentile probabilities."""
    return "array(" + ", ".join(double(v) for v in values) + ")"


def in_list(x: str, values) -> str:
    """``x IN (values…)`` over string literals; ``false`` for no values (an
    empty IN list is false, and SQL cannot spell it)."""
    values = list(values)
    if not values:
        return "false"
    return f"{x} IN ({', '.join(string(v) for v in values)})"
