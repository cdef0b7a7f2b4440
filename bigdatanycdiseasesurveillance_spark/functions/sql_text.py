"""The SQL-text plan builder's shared pieces.

The engine builds its hot plans as Spark SQL text handed to Catalyst in
a few statements — ``spark.sql(text, name=frame)``, whose
DataFrame-argument formatting makes and drops a temp view per frame, or
``F.expr(text)`` for one column — instead of chains of PySpark Column
calls. Each Column call is several Py4J round trips from Python to the
JVM (``(c >= 1) & (c <= 2)`` costs ~65), so a chain of a
few hundred calls spends a measurable share of a short job's wall time
building the plan; the same expression as text costs ~3, and a whole
statement ~7.

Every string literal in that text goes through ``slit``, and every
double literal through ``dlit``: without its ``D`` suffix Spark parses
``0.25`` as a DECIMAL, which changes the arithmetic.
"""

from __future__ import annotations


def slit(v: str) -> str:
    """A Spark SQL string literal holding `v`. Spark's parser interprets
    backslash escapes inside string literals (unlike ANSI), so those are
    doubled first; braces are written as unicode escapes so the literal
    also survives ``spark.sql``'s DataFrame-argument formatting, which
    reads ``{`` and ``}`` as placeholders."""
    v = v.replace("\\", "\\\\").replace("'", "''")
    return "'" + v.replace("{", "\\u007B").replace("}", "\\u007D") + "'"


def dlit(x: float) -> str:
    """A Spark SQL DOUBLE literal (repr round-trips the exact value)."""
    return repr(float(x)) + "D"


def ident(name: str) -> str:
    """A backquoted column name."""
    return "`" + name.replace("`", "``") + "`"


def str_array(values) -> str:
    """array('a', 'b', ...) of string literals."""
    return "array(" + ", ".join(slit(v) for v in values) + ")"


def with_columns(columns: list[str], exprs: dict[str, str]) -> str:
    """The SELECT list of ``df.withColumns(exprs)`` over a frame whose
    columns are `columns`: a column named in `exprs` is replaced in
    place, the others are appended in order."""
    kept = [f"{exprs[c]} AS {ident(c)}" if c in exprs else ident(c) for c in columns]
    new = [f"{e} AS {ident(n)}" for n, e in exprs.items() if n not in columns]
    return ", ".join(kept + new)
