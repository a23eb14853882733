"""SQL-text literals for builders that render one expression string and
issue a single `F.expr` / `selectExpr` instead of a Column tree (each
`F.xxx` call and Column operator is one py4j round trip)."""

from __future__ import annotations

import math


def _dlit(v: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip form
    and Spark's `...D` literal goes through Double.parseDouble, so the
    IEEE value is bit-identical to `F.lit(float)` (incl. subnormals and
    exponent forms — pinned in tests/test_round13_fixes.py). NaN and
    the infinities have no `...D` spelling and are cast from strings."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return repr(v) + "D"


def _ident(name: str) -> str:
    """Backtick-quoted SQL identifier; embedded backticks are doubled."""
    return "`" + name.replace("`", "``") + "`"
