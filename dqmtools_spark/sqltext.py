"""Quoting for the SQL text that plans are built from.  A family of
expressions passed as strings to one ``selectExpr`` or ``F.expr`` costs
a Py4J round trip or so per string; as Column calls it costs several
per member."""

from __future__ import annotations


def sql_ident(name: str) -> str:
    """``name`` as a backquoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """``s`` as a string literal under the default
    ``spark.sql.parser.escapedStringLiterals``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
