"""Scalable global ordering primitives: total-order row_number and
exact ntile WITHOUT a single-partition window (SURVEY.md §2.5 W6, §2.1
A5).

A bare ``Window.orderBy(...)`` (no partitionBy) funnels the whole
table through ONE task — fine at sf0.01, fatal at 100 TB.  The
reference solved total ordering with a sampled TotalOrderPartitioner
[U samplecdxjob.py + zipnumclusterjob.py]; the Spark-native equivalent
is the classic two-pass rank:

1. ``repartitionByRange(keys)`` + ``sortWithinPartitions`` — one range
   shuffle, each task holds a contiguous key range, all tasks parallel.
2. Count rows per partition (a metadata-sized aggregate: one row per
   task), cumulative-sum the counts on the driver (#partitions ints),
   ship the tiny offset map back inside the closure.
3. A NARROW Arrow-batched ``mapInPandas`` pass adds
   ``offset[pid] + running position`` — each range partition holds
   exactly one pid and is already sorted, so ranking is a vectorized
   cumulative count with ZERO additional exchange or sort.

(The naive alternative — ``row_number() OVER (PARTITION BY pid ORDER
BY keys)`` — is wrong at scale even though every window is one pid:
Catalyst cannot see that the cached range partitioning satisfies the
window's clustering, so it plants an Exchange hashpartitioning(pid)
AND re-sorts data that is already sorted.  The executed plan showed
both; the Arrow pass removes a full shuffle + sort of the table.)

The intermediate is pinned via ``localCheckpoint(eager=False)`` so
pass 2 and pass 3 see the SAME physical partitioning (range-sample
boundaries are deterministic for a fixed input, but pinning them is
free at this width and removes the assumption).  localCheckpoint, not
``persist``: its blocks are reclaimed by the ContextCleaner when the
result DataFrame is garbage-collected, so a sweep of calls (ntile /
token packing / curriculum percentile) does not accumulate session-
lifetime cached copies of each input (same rationale as dedup.py).

The pinned width is whatever ``df`` carries — pass ``cols`` to have
the operator project to ``keys + cols`` itself (the self-enforcing
form), or pre-project before calling; either way the checkpointed
intermediate stays a fraction of source width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _project(df: DataFrame, keys: list[str], cols: list[str] | None) -> DataFrame:
    """Self-enforcing width contract: with ``cols`` given, narrow to
    ``keys + cols`` (order-preserving, deduped) so the checkpointed
    intermediate never pins columns the caller won't read."""
    if cols is None:
        return df
    keep: list[str] = []
    for c in [*keys, *cols]:
        if c not in keep:
            keep.append(c)
    return df.select(*keep)


def _range_sorted(df: DataFrame, keys: list[str], n: int) -> DataFrame:
    """Pass-1 physical shape shared by rank and cumsum: ONE range
    shuffle, per-partition sort, partition id stamped.  Exposed (and
    plan-asserted in tests) separately because the localCheckpoint
    that pins it truncates the executed plan to Scan ExistingRDD —
    the range-partitioning evidence lives here, pre-checkpoint."""
    return (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__pid", F.spark_partition_id())
    )


def global_row_number(
    df: DataFrame,
    keys: list[str],
    *,
    num_partitions: int | None = None,
    rank_col: str = "rank",
    cols: list[str] | None = None,
) -> DataFrame:
    """Append a 1-based total-order row number over ``keys`` using the
    two-pass range-partitioned rank.  Deterministic when ``keys`` is a
    unique ordering; with ties, rank assignment among equal keys is
    arbitrary but any value-derived aggregate per rank range (count,
    min/max of the keys) is still deterministic."""
    return global_row_number_and_total(df, keys, num_partitions, rank_col, cols=cols)[0]


def global_row_number_and_total(
    df: DataFrame,
    keys: list[str],
    num_partitions: int | None = None,
    rank_col: str = "rank",
    *,
    cols: list[str] | None = None,
) -> tuple[DataFrame, int]:
    """As global_row_number, but also returns the total row count —
    already known from the per-partition counts, so callers needing
    ``total`` (ntile, percent_rank) avoid an extra job."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parts = _range_sorted(_project(df, keys, cols), keys, n).localCheckpoint(
        eager=False
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt

    schema = T.StructType(list(parts.schema.fields) + [T.StructField(rank_col, T.LongType())])

    def add_rank(batches):
        # one call per partition; batches arrive in sorted order and
        # share a single __pid value — ranking is a running count
        pos = 0
        for b in batches:
            if len(b) == 0:
                import pandas as pd

                b[rank_col] = pd.Series([], dtype="int64")
            else:
                start = offsets.get(int(b["__pid"].iloc[0]), 0) + pos
                b[rank_col] = range(start + 1, start + len(b) + 1)
                pos += len(b)
            yield b

    return parts.mapInPandas(add_rank, schema).drop("__pid"), acc


def global_cumsum(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    *,
    num_partitions: int | None = None,
    out_col: str = "cumsum",
    cols: list[str] | None = None,
) -> DataFrame:
    """Inclusive global running total of ``value_col`` over the total
    order of ``keys`` — the scale-safe twin of
    ``SUM(v) OVER (ORDER BY keys ROWS UNBOUNDED PRECEDING)``, which
    Spark executes as a SINGLE task (empty window partition spec).

    Two passes, same shape as ``global_row_number``: range partition +
    per-partition sums to the driver (#partitions rows — bounded model
    artifact, not data), then a map-side local cumsum shifted by the
    partition's offset.  Deterministic when ``keys`` is a unique
    ordering (among tied keys the running total is order-dependent)."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parts = _range_sorted(
        _project(df, keys, [value_col, *(cols or [])] if cols is not None else None),
        keys,
        n,
    ).localCheckpoint(eager=False)
    sums = sorted(
        (r["__pid"], r["s"] or 0)
        for r in parts.groupBy("__pid")
        .agg(F.sum(value_col).cast("bigint").alias("s"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, s in sums:
        offsets[pid] = acc
        acc += s

    schema = T.StructType(list(parts.schema.fields) + [T.StructField(out_col, T.LongType())])

    def add_cumsum(batches):
        run = 0
        for b in batches:
            if len(b) == 0:
                import pandas as pd

                b[out_col] = pd.Series([], dtype="int64")
            else:
                start = offsets.get(int(b["__pid"].iloc[0]), 0) + run
                b[out_col] = start + b[value_col].astype("int64").cumsum()
                run += int(b[value_col].sum())
            yield b

    return parts.mapInPandas(add_cumsum, schema).drop("__pid")


def exact_ntile_expr(rank_col: str, total: int, n: int):
    """SQL-standard NTILE(n) from a precomputed 1-based total-order
    rank: the first ``total % n`` tiles get ``total // n + 1`` rows,
    the rest ``total // n`` — identical allotment to DuckDB/Spark
    NTILE, computed without any global window.  Pure integer
    arithmetic (no float division) so it is exact at any scale."""
    q, r = divmod(total, n)
    rank = F.col(rank_col)
    big = q + 1  # size of the first r tiles
    if q == 0:  # fewer rows than tiles: tile i == rank i
        return rank.cast("bigint")
    return (
        F.when(rank <= r * big, F.expr(f"({rank_col} - 1) div {big}") + 1)
        .otherwise(F.lit(r) + F.expr(f"({rank_col} - 1 - {r * big}) div {q}") + 1)
        .cast("bigint")
    )


def exact_ntile(
    df: DataFrame, keys: list[str], n: int, *, tile_col: str = "tile"
) -> DataFrame:
    """NTILE(n) OVER (ORDER BY keys) at scale: two-pass global rank +
    closed-form allotment.  The exact-quantile successor to the
    reference's sampled split points [U samplecdxjob.py] — same intent
    (balanced shards), but deterministic and oracle-checkable."""
    ranked, total = global_row_number_and_total(df, keys, None, "__rank")
    return ranked.withColumn(tile_col, exact_ntile_expr("__rank", total, n)).drop(
        "__rank"
    )
