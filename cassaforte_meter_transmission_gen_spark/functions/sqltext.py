"""Safe splicing of runtime values into generated SQL text.

The engine generates many plans (and their DuckDB oracle twins) as SQL
strings for plan-build speed (one server-side parse instead of
thousands of py4j literal round trips — see operators.similarity).
Anywhere a RUNTIME value (a query term, a column name from a caller)
lands inside that text is an injection point: a term containing a
single quote breaks — or redirects — both the Spark expression and the
oracle (ADVICE r7, operators.retrieval). These helpers make the
splice points safe and loud.
"""

from __future__ import annotations

import re

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def sql_str_lit(s: str) -> str:
    """``s`` as a single-quoted SQL string literal with IDENTICAL
    meaning in Spark SQL and DuckDB: single quotes are doubled (both
    engines' standard escape). Backslashes and control characters are
    REJECTED rather than escaped — Spark's default parser treats ``\\``
    as an escape inside string literals while DuckDB's conforming
    strings take it literally, so no single spelling means the same
    thing to both engines."""
    if "\\" in s or any(ord(c) < 32 for c in s):
        raise ValueError(
            f"string not portably representable in SQL literals: {s!r} "
            "(backslash/control chars escape differently across engines)"
        )
    return "'" + s.replace("'", "''") + "'"


def safe_ident(name: str) -> str:
    """Validate ``name`` as a plain SQL identifier (letters, digits,
    underscore; not starting with a digit) and return it unchanged.
    Used where an API takes a COLUMN NAME that is spliced into
    generated SQL (operators.bloom, operators.sketches): a stray
    expression or quote in the name fails loud here instead of
    becoming part of the plan text."""
    if not _IDENT.match(name):
        raise ValueError(f"not a plain SQL identifier: {name!r}")
    return name


def sql_double_lit(x: float) -> str:
    """Exact double literal valid in BOTH Spark SQL and DuckDB:
    string→double casts are correctly rounded in each, and repr
    round-trips every finite float64."""
    return f"CAST('{x!r}' AS DOUBLE)"
