"""Quoting for SQL text built on the driver.

An expression handed to ``selectExpr``/``F.expr`` as one string costs one
py4j round trip where the same expression built from ``Column`` objects
costs one per node.  The price is that names and values are spliced into
text, so every splice goes through these two functions: whatever the
column name or the string value, it parses back as itself and nothing
else.  Assumes the default parser settings
(``spark.sql.parser.escapedStringLiterals=false``).
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier: embedded backticks are
    doubled, so dots, spaces, quotes and keywords stay part of the one
    name."""
    return "`" + name.replace("`", "``") + "`"


def lit(value) -> str:
    """A Python scalar as a SQL literal: None, bool, int or str.
    Strings are single-quoted with backslashes and quotes escaped."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")
