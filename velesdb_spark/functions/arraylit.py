"""SQL spelling of Python names and values, and array literals as ONE
parsed SQL expression.

``F.array(*[F.lit(x) for x in vec])`` costs one py4j round-trip per
element — ~51 ms of pure driver latency for a dim-64 query vector, paid
on every query construction (measured on local[32], Spark 4.1). Parsing
the equivalent SQL text with ``F.expr`` is a single round-trip (~0.7 ms,
70× less) and yields the same expression tree: an ``array(...)`` call
over element literals, which ConstantFolding collapses to the identical
ARRAY literal either way — values and schema are bit-identical
(pinned in tests/test_vector.py).

Every identifier or literal that a builder splices into SQL text goes
through ``sql_ident`` / ``sql_str`` / ``sql_double``, so any column
name, string or double has a SQL spelling and no builder needs a
Column-API fallback. Non-finite doubles have no literal form and are
spelled as casts of their string names, which fold to the same
constants.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier; a backtick inside the name doubles."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Single-quoted string literal (backslash and quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(x: float) -> str:
    """DOUBLE literal. ``repr(float)`` is Python's shortest exact-round-
    trip form and Spark's double parser is correctly rounding, so the
    parsed value equals ``F.lit(float(x))`` bitwise."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    return "CAST('Infinity' AS DOUBLE)" if x > 0 \
        else "CAST('-Infinity' AS DOUBLE)"


def double_array_sql(values: Sequence[float]) -> str:
    """SQL text of an ARRAY<DOUBLE> literal, for composing into larger
    one-shot ``F.expr`` strings (score expressions build the whole
    aggregate/zip_with tree as ONE parsed expression instead of dozens
    of py4j calls)."""
    xs = [sql_double(x) for x in values]
    if not xs:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ",".join(xs) + ")"


def double_array_lit(values: Sequence[float]) -> Column:
    """ARRAY<DOUBLE> literal."""
    return F.expr(double_array_sql(values))


def long_array_lit(values: Sequence[int]) -> Column:
    """ARRAY<BIGINT> literal."""
    xs = [int(x) for x in values]
    if not xs:
        return F.array().cast("array<bigint>")
    return F.expr("array(" + ",".join(f"{x}L" for x in xs) + ")")


def int_array_lit(values: Sequence[int]) -> Column:
    """ARRAY<INT> literal (matches ``F.array(*[F.lit(int)])``, which
    types Python ints that fit in 32 bits as INT)."""
    xs = [int(x) for x in values]
    if not xs:
        return F.array().cast("array<int>")
    return F.expr("array(" + ",".join(str(x) for x in xs) + ")")


def double_matrix_lit(rows: Sequence[Sequence[float]]) -> Column:
    """ARRAY<ARRAY<DOUBLE>> literal (PQ codebooks, centroid tables)."""
    if len(rows) == 0:  # rows may be a numpy matrix
        return F.expr("CAST(array() AS ARRAY<ARRAY<DOUBLE>>)")
    return F.expr("array(" + ",".join(map(double_array_sql, rows)) + ")")
