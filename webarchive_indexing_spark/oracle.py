"""Local replica of the driver's DuckDB correctness gate.

Runs a registered query on Spark AND its oracle SQL on DuckDB over the
same parquet tables, then compares row-count + column names +
order-insensitive values, normalizing exactly the hazards the driver's
hash would see (column order, float repr, Decimal vs float, date vs
datetime).  Used by ``tests/test_oracle.py`` and ``scripts`` so a
mismatch is caught here, not in the driver's CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from .tables import TABLE_NAMES


def duckdb_connect(sf_dir: str):
    """DuckDB connection with the ten tables pre-registered as views
    (mirrors the driver's oracle setup)."""
    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    """Normalize one value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _spark_type_class(dtype: str) -> str:
    """Collapse a Spark dtype string to a coarse class that mirrors how
    the driver's value hash sees the column (int64 vs float64 vs object)."""
    d = dtype.lower()
    if d in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("decimal"):
        return "decimal"
    if d in ("timestamp", "timestamp_ntz"):
        return "timestamp"
    if d.startswith("array"):
        return "list"
    if d.startswith(("map", "struct")):
        return "nested"
    return d  # string, boolean, date, binary, ...


def _duck_type_class(t) -> str:
    """DuckDB result-column type → the same coarse classes.  HUGEINT is
    deliberately its own class: Spark has no int128, and the driver's
    arrow/pandas conversion turns HUGEINT into float64/object, so a bare
    integer SUM in oracle SQL hash-mismatches even when values agree."""
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if s in ("FLOAT", "DOUBLE"):
        return "float"
    if s.startswith("DECIMAL"):
        return "decimal"
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    if s.endswith("[]") or s.startswith("LIST"):
        return "list"
    if s.startswith(("STRUCT", "MAP")):
        return "nested"
    if s == "VARCHAR":
        return "string"
    if s == "BLOB":
        return "binary"
    return s.lower()


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str
    spark_rows: int = -1
    oracle_rows: int = -1


def compare(name: str, spark_df: DataFrame, con, sql: str) -> CompareResult:
    # run the two engines CONCURRENTLY (round 16): the DuckDB oracle
    # executes on a worker thread (DuckDB releases the GIL) while Spark
    # collects — the sequential form paid both walls per query, and
    # the 272-query parity suite runs this once per registered query.
    # The worker queries through its own cursor (a connection to the
    # same database, so the table views are visible): a DuckDB
    # connection is not safe for concurrent use, and the caller's
    # ``con`` stays free for the caller.
    from concurrent.futures import ThreadPoolExecutor

    def _oracle_side():
        with con.cursor() as cur:
            rel = cur.sql(sql)
            return rel.columns, rel.types, rel.fetchall()

    scols = sorted(spark_df.columns)
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(_oracle_side)
        srows = spark_df.collect()
        rel_columns, rel_types, orows = fut.result()
    ocols = sorted(rel_columns)

    if [c.lower() for c in scols] != [c.lower() for c in ocols]:
        return CompareResult(
            name, False, f"schema mismatch: spark={scols} oracle={ocols}", len(srows), len(orows)
        )

    # Type-class check: the driver hashes values after an arrow/pandas
    # conversion, so int-vs-float/decimal/HUGEINT differences fail there
    # even when python-level values compare equal.  Catch them here.
    sdt = dict(spark_df.dtypes)
    styp = {c.lower(): _spark_type_class(sdt[c]) for c in spark_df.columns}
    otyp = {c.lower(): _duck_type_class(t) for c, t in zip(rel_columns, rel_types)}
    bad = {c: (styp[c], otyp[c]) for c in styp if styp[c] != otyp[c]}
    if bad:
        return CompareResult(
            name, False, f"type-class mismatch (spark,oracle): {bad}", len(srows), len(orows)
        )
    if len(srows) != len(orows):
        return CompareResult(
            name, False, f"row count: spark={len(srows)} oracle={len(orows)}", len(srows), len(orows)
        )

    from collections import Counter

    sidx = [spark_df.columns.index(c) for c in sorted(spark_df.columns, key=str.lower)]
    oidx = [rel_columns.index(c) for c in sorted(rel_columns, key=str.lower)]
    sset = Counter(tuple(_norm(r[i]) for i in sidx) for r in srows)
    oset = Counter(tuple(_norm(r[i]) for i in oidx) for r in orows)
    if sset != oset:
        diff_s = list((sset - oset).keys())[:3]
        diff_o = list((oset - sset).keys())[:3]
        return CompareResult(
            name,
            False,
            f"value mismatch; spark-only(3)={diff_s} oracle-only(3)={diff_o}",
            len(srows),
            len(orows),
        )
    return CompareResult(name, True, "ok", len(srows), len(orows))


def run_all(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[CompareResult]:
    from .registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    out: list[CompareResult] = []
    for q in REGISTRY.values():
        if names and q.name not in names:
            continue
        try:
            df = q.fn(spark, sf_dir)
            if q.oracle is None:
                n = df.count()
                out.append(CompareResult(q.name, n >= 0, f"rows-only: {n}", n, -1))
            else:
                # fresh connection per oracle: a shared connection's
                # buffer/temp memory accumulates across ~100 heavy
                # oracles and can OOM the process mid-sweep; per-query
                # connections release everything and cost ~ms each
                con = duckdb_connect(sf_dir)
                try:
                    out.append(compare(q.name, df, con, q.oracle))
                finally:
                    con.close()
        except Exception as e:  # surface, keep going
            out.append(CompareResult(q.name, False, f"EXCEPTION: {type(e).__name__}: {e}"))
    return out
