"""cdx-server ``collapse`` (SURVEY.md §2.5 W2, tier B).

Public pywb semantics: scanning rows in index order, keep the FIRST
row of every run of rows whose collapse key (a field, optionally its
first N chars — ``collapseTime=10`` = first 10 timestamp digits) is
equal to the previous row's.  Run-based, NOT group-based: the same
key reappearing after a gap starts a new run and is kept again.

Spark mapping: one ``lag`` window over the index order — a single
shuffle on the partition key, no UDF, whole-stage codegen throughout.
The stage is rendered as SQL text (``collapse_sql``) so that the
cdx-server lookup can fold it into its one parsed statement;
``collapse`` runs the same text over a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sqltext import select_with, sql_ident, sql_over


def collapse(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    collapse_key: str,
    *,
    keep: str = "first",
    group_count_col: str | None = None,
    skip_count_col: str | None = None,
    skip_ts: tuple[str, str] | None = None,
) -> DataFrame:
    """Keep the first (or last) row of each run of equal ``collapse_key``.

    ``partition_by`` scopes runs (cdx: the urlkey); ``order_by`` is
    the index order within the partition as SQL sort items (cdx:
    ``timestamp ASC``); ``collapse_key`` is a SQL expression.

    ``keep="first"`` (default): rows where the key differs from the
    PREVIOUS row's survive; the first row of each partition always
    survives (lag is NULL there).  ``keep="last"`` — pywb's
    ``collapseToLast`` [U pywb query API] — mirrors it with ``lead``:
    rows where the key differs from the NEXT row's survive, so each
    run is represented by its latest capture.  Same single window,
    same one shuffle, either direction.

    ``group_count_col`` (IA cdx-server ``showGroupCount=true`` [U IA
    wayback cdx-server API]) attaches the size of each run to its kept
    representative — the "N captures collapsed here" annotation.  The
    run id is the classic gaps-and-islands running sum of change
    flags; both extra windows share the SAME partitioning and
    ordering as the lag/lead, so the whole feature stays ONE shuffle.

    ``skip_count_col`` (IA cdx-server ``showSkipCount=true`` [U IA
    wayback cdx-server API]) attaches, to each kept row, how many
    captures the collapse skipped since the previously kept row —
    computed as the row-number gap between consecutive survivors, so
    it needs no per-run state.  ``skip_ts=(src_col, out_col)`` adds
    IA's companion ``lastskiptimestamp``: the ``src_col`` value of
    the most recently skipped capture (NULL when nothing was
    skipped) — in index order that capture is always the row
    immediately before the kept one, i.e. a plain ``lag`` on the
    SAME window.  The post-filter gap window re-uses the partition
    clustering, so these annotations are also shuffle-neutral.
    """
    return sql_over(
        df,
        lambda src: collapse_sql(
            src,
            df.columns,
            partition_by,
            order_by,
            collapse_key,
            keep=keep,
            group_count_col=group_count_col,
            skip_count_col=skip_count_col,
            skip_ts=skip_ts,
        )[0],
    )


def collapse_sql(
    src: str,
    cols: list[str],
    partition_by: list[str],
    order_by: list[str],
    collapse_key: str,
    *,
    keep: str = "first",
    group_count_col: str | None = None,
    skip_count_col: str | None = None,
    skip_ts: tuple[str, str] | None = None,
) -> tuple[str, list[str]]:
    """``collapse`` as SQL over the relation ``src`` (a table name or a
    parenthesised query) whose columns are ``cols``.  Returns the
    statement and its columns: ``cols`` plus the requested annotation
    columns, in the order ``collapse`` documents."""
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    w = (
        f"PARTITION BY {', '.join(map(sql_ident, partition_by))} "
        f"ORDER BY {', '.join(order_by)}"
    )
    k = collapse_key

    def changed(fn: str) -> str:
        adj = f"{fn}({k}) OVER ({w})"
        return f"({adj} IS NULL OR {k} != {adj})"

    sel, out = select_with(cols, {"__keep": changed("lag" if keep == "first" else "lead")})
    drop = ["__keep"]
    stmt = f"SELECT {sel} FROM {src}"
    if group_count_col is not None:
        run_id = (
            f"sum(CAST({changed('lag')} AS BIGINT)) OVER "
            f"({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        sel, out = select_with(out, {"__run": run_id})
        stmt = f"SELECT {sel} FROM ({stmt})"
        by_run = ", ".join(map(sql_ident, [*partition_by, "__run"]))
        sel, out = select_with(
            out, {group_count_col: f"count(1) OVER (PARTITION BY {by_run})"}
        )
        stmt = f"SELECT {sel} FROM ({stmt})"
        drop.append("__run")
    if skip_count_col is not None:
        rn = {"__rn": f"row_number() OVER ({w})"}
        if skip_ts is not None:
            rn["__pts"] = f"lag({sql_ident(skip_ts[0])}) OVER ({w})"
        sel, out = select_with(out, rn)
        stmt = f"SELECT * FROM (SELECT {sel} FROM ({stmt})) WHERE `__keep`"
        gap = f"`__rn` - coalesce(lag(`__rn`) OVER ({w}), 0) - 1"
        sel, out = select_with(out, {skip_count_col: gap})
        stmt = f"SELECT {sel} FROM ({stmt})"
        drop.append("__rn")
        if skip_ts is not None:
            sel, out = select_with(
                out,
                {
                    skip_ts[1]: f"CASE WHEN {sql_ident(skip_count_col)} > 0 "
                    "THEN `__pts` END"
                },
            )
            stmt = f"SELECT {sel} FROM ({stmt})"
            drop.append("__pts")
    else:
        stmt = f"SELECT * FROM ({stmt}) WHERE `__keep`"
    out = [c for c in out if c not in drop]
    return f"SELECT {', '.join(map(sql_ident, out))} FROM ({stmt})", out
