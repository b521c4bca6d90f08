"""Small driver-built frames as SQL VALUES literals (LocalRelation).

``spark.createDataFrame(list_of_rows)`` takes the pickle→``parallelize``
RDD path: the plan gets a ``Scan ExistingRDD`` leaf, every consumer
pays an RDD scan (and, under a broadcast, a job just to collect the
RDD back), and the rows round-trip driver→JVM through pickle. A SQL
``VALUES`` literal optimizes to a ``LocalRelation`` the planner folds,
broadcasts, and prunes directly — measured on the r12 flagship's
48-row plane bank: candidate stage 3.70 → 2.71 s, ``Scan ExistingRDD``
6 → 0 in the dump.

:func:`local_frame` is the shared recipe (r13): emit each cell as an
exact SQL literal (``repr`` for doubles — shortest round-trip form,
re-parsed to the identical double; escaped string literals; NULLs via
the column cast) and CAST every column to the caller's DDL type, which
also defends against DECIMAL literal inference (the r12 trap: a bare
``0.123`` literal parses as DECIMAL(3,3)).

ONLY for small frames (constant banks, per-round codebooks, tiny
driver-computed tables): the literal text lives in the query plan, so
a million-row frame here would be a million-row parse. Callers keep
``createDataFrame`` for empty frames (VALUES needs ≥1 row) — the
helper falls back automatically.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

__all__ = ["local_frame"]


# escapedStringLiterals is false by default, so backslash escapes are
# live inside quoted literals: escape the backslash and the quote, and
# write every control character as a fixed-width \uXXXX escape. A short
# form such as \0 would swallow the digits after it as an octal escape
# ("a\x0012" came back as "a\n").
_STRING_ESCAPES = {
    ord("\\"): "\\\\",
    ord("'"): "\\'",
    **{c: f"\\u{c:04x}" for c in (*range(0x20), 0x7F)},
}


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        # repr is the shortest string that round-trips to this exact
        # double, and the D suffix makes Spark parse it AS a double —
        # without it a plain decimal-point literal parses as DECIMAL,
        # which loses the sign of zero (-0.0 → +0.0) and re-rounds.
        return repr(v) + "D"
    if isinstance(v, str):
        return f"'{v.translate(_STRING_ESCAPES)}'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_sql_literal(x) for x in v) + ")"
    raise TypeError(
        f"local_frame: unsupported literal type {type(v).__name__}; "
        "add an exact SQL rendering before using it here"
    )


def _split_ddl(schema: str) -> list[tuple[str, str]]:
    """Split a DDL string like ``'m int, a array<double>'`` into
    (name, type) pairs — commas inside ``<...>`` belong to the type."""
    cols: list[tuple[str, str]] = []
    depth = 0
    start = 0
    parts: list[str] = []
    for i, ch in enumerate(schema):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(schema[start:i])
            start = i + 1
    parts.append(schema[start:])
    for p in parts:
        name, typ = p.strip().split(None, 1)
        cols.append((name, typ.strip()))
    return cols


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Build a small DataFrame from driver-side ``rows`` with ``schema``
    (a DDL string) as a VALUES-literal LocalRelation — a drop-in
    replacement for ``spark.createDataFrame(rows, schema)`` on small
    constant/driver-computed frames, minus the RDD leaf. Values must
    round-trip exactly as SQL literals (ints, doubles via repr, strings
    escaped, bools, None, nested arrays thereof); anything else raises.
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    cols = _split_ddl(schema)
    body = ",\n".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    names = ", ".join(n for n, _ in cols)
    # All-literal VALUES columns analyze as non-nullable where
    # createDataFrame's are nullable, and declared output schemas carry
    # nullability — wrap each column in an IF whose else-branch is the
    # NULL literal: If's nullability is the OR of its branches, so the
    # column analyzes nullable while the expression is semantically the
    # identity. (CASE WHEN TRUE and TRY_CAST both analyze back to
    # non-nullable here; verified.) The leaf stays a LocalRelation.
    select = ", ".join(
        f"CAST(IF({n} IS NOT NULL, {n}, NULL) AS {t}) AS {n}" for n, t in cols
    )
    return spark.sql(f"SELECT {select} FROM VALUES\n{body} AS t({names})")
