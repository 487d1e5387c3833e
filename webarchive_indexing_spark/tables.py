"""Loaders for the driver-provided parquet tables (TESTDATA.md).

``load_tables`` reads the ten tables of one scale factor and registers
each as a temp view so queries can be written either as DataFrame
chains or ``spark.sql``.  Reading is lazy — a query that touches two
tables scans only those two (Catalyst prunes columns / pushes filters
into the parquet scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .session import tune

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    tune(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            # parquet TIMESTAMP(NANOS) read as long ns (legacy conf in
            # session.RUNTIME_CONF); floor to µs exactly as DuckDB does.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # isAdjustedToUTC=false parquet timestamps surface as NTZ;
            # with the UTC session timezone the cast is value-preserving
            # and restores the TIMESTAMP type the unix_micros() call
            # sites (and DuckDB's naive-TIMESTAMP oracle reads) expect.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, *, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load all tables of one scale factor; optionally register temp views."""
    tune(spark)
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
