"""Shared blankness predicates.

Reference semantics: ``StringUtils.isNotBlank`` — a cell counts only if it
contains a non-whitespace character (collector/TermsFrequencyCollector.java:
34-39). Spark's ``trim`` strips only ASCII spaces, so blankness is expressed
as a ``\\S`` regex match (JVM-side, codegen-friendly). Each predicate comes
as a Column (for operators composing Columns) and as SQL text over a SQL
expression (for the run path's parsed batteries); the two build the same
expression tree.
"""

from __future__ import annotations

from pyspark.sql import Column

from .sqltext import string

#: a non-whitespace character
NON_WS = r"\S"


def is_blank(col: Column) -> Column:
    """NULL, empty, or whitespace-only."""
    return col.isNull() | ~col.cast("string").rlike(NON_WS)


def non_blank(col: Column) -> Column:
    return col.isNotNull() & col.cast("string").rlike(NON_WS)


def is_blank_sql(x: str) -> str:
    """``is_blank`` over the SQL expression ``x``."""
    return f"({x} IS NULL OR NOT CAST({x} AS STRING) RLIKE {string(NON_WS)})"


def non_blank_sql(x: str) -> str:
    """``non_blank`` over the SQL expression ``x``."""
    return f"({x} IS NOT NULL AND CAST({x} AS STRING) RLIKE {string(NON_WS)})"
