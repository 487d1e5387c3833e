"""Spark SQL text: literals, identifiers, and one statement over a
DataFrame.

Every ``F.*`` function and ``Column`` method is a JVM call, and
pyspark 4.1 wraps each in a call-site recorder, so one such call costs
11-26 py4j round trips; parsing one SQL string costs one, whatever
its size.  Operators that build a whole pipeline per request (the
cdx-server lookups) therefore render it as text, and these helpers
are where Python values become Spark SQL text.
"""

from __future__ import annotations

import math
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal that parses back to ``s``
    exactly.  A backslash is Spark's escape character inside string
    literals, so backslashes are doubled first and single quotes then
    backslash-escaped; every other character (newlines, NUL,
    non-ASCII, regex and LIKE metacharacters) is carried as is.

    This is Spark-only: DuckDB keeps backslashes literal, so SQL text
    shared with the DuckDB oracle uses ``operators.cdx_query._sq``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_lit(v: str | int | None) -> str:
    """A literal of the type ``F.lit(v)`` would build: NULL, an integer
    literal (INT, or BIGINT beyond 32 bits), or ``sql_str``."""
    if v is None:
        return "NULL"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    if isinstance(v, str):
        return sql_str(v)
    raise TypeError(f"no SQL literal rendering for {type(v).__name__} {v!r}")


def sql_ident(name: str) -> str:
    """A backquoted column identifier (reserved words such as
    ``timestamp``, ``offset`` and ``length`` are CDX field names)."""
    return "`" + name.replace("`", "``") + "`"


def sql_double_array(vals: list[float]) -> str:
    """SQL text of an ``array<double>`` literal; ``repr(float)``
    round-trips the exact double bits."""
    return "array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")"


def sql_in(col: str, ids) -> str:
    """SQL text of ``col IN (ids)`` over integer ids.  An empty list is
    ``FALSE`` — ``IN ()`` does not parse."""
    vals = ",".join(str(int(i)) for i in ids)
    return f"`{col}` IN ({vals})" if vals else "FALSE"


def sql_isin(col: str, ids) -> Column:
    """``col IN (ids)`` as ONE parsed expression: ``Column.isin`` costs
    one py4j round-trip per literal, and the parsed form pushes down
    as the same ``In`` filter."""
    return F.expr(sql_in(col, ids))


def require_finite(query_vecs: list[list[float]], op: str) -> None:
    """A NaN or infinite query component has no similarity or distance
    to rank by (and no SQL literal): refuse it up front with a
    ``ValueError`` naming the request."""
    for n, qv in enumerate(query_vecs):
        bad = [x for x in qv if not math.isfinite(float(x))]
        if bad:
            raise ValueError(
                f"{op}: query vector {n} has a non-finite component "
                f"({bad[0]!r})"
            )


def sql_key_range(lo: str | None, hi: str | None, col: str = "urlkey") -> str:
    """``lo <= col < hi`` as SQL; a ``None`` bound is open, and with
    both open the predicate is ``TRUE``."""
    c = sql_ident(col)
    conds = []
    if lo is not None:
        conds.append(f"{c} >= {sql_str(lo)}")
    if hi is not None:
        conds.append(f"{c} < {sql_str(hi)}")
    return " AND ".join(conds) or "TRUE"


def select_with(cols: list[str], new: dict[str, str]) -> tuple[str, list[str]]:
    """The select list of ``withColumn(name, expr)`` for each entry of
    ``new`` in order, over a relation whose columns are ``cols``: an
    existing column is replaced in place, a new one is appended.
    Returns (select list, resulting columns)."""
    items = {c: sql_ident(c) for c in cols}
    for name, expr in new.items():
        items[name] = f"{expr} AS {sql_ident(name)}"
    return ", ".join(items.values()), list(items)


def sql_over(df: DataFrame, statement: Callable[[str], str]) -> DataFrame:
    """Run one SQL statement over ``df``: ``statement(name)`` is the
    statement text, where ``name`` stands for ``df``.

    ``df`` is registered as a temporary view under a fresh name for
    as long as the statement is parsed and analysed (``spark.sql`` is
    eager), then dropped — the same life cycle as
    ``spark.sql(text, df=df)``, without its ``str.format`` pass, which
    would read the braces of a regex quantifier in a literal as a
    placeholder.  The py4j cost is constant: the view, the statement,
    the drop."""
    spark = df.sparkSession
    name = "__sql_over_" + uuid.uuid4().hex
    df.createOrReplaceTempView(name)
    try:
        return spark.sql(statement(name))
    finally:
        spark.catalog.dropTempView(name)
