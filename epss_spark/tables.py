"""Testdata loaders (TESTDATA.md): one parquet file per table under
/root/testdata/sf{0.001,0.01,0.1}/. Plain `spark.read.parquet` — Catalyst
gets column pruning + predicate pushdown for free on these scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from epss_spark.schemas import TABLE_NAMES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        # events.parquet `ts` has shipped as TIMESTAMP(NANOS) (which the
        # Spark parquet reader rejects) and as TIMESTAMP(MICROS) without
        # isAdjustedToUTC (which Spark 4 infers as TIMESTAMP_NTZ, rejected
        # by unix_micros and friends). Handle both: read nanos as long and
        # truncate — bit-identical to DuckDB's TIMESTAMP_NS -> TIMESTAMP
        # conversion — and disable NTZ inference so micros arrive as plain
        # TIMESTAMP at the scan (pushdown on ts preserved; the session
        # timezone is pinned UTC, so the instant matches DuckDB's naive
        # reading). The NTZ cast below is a belt-and-braces fallback.
        df = load_events_file(spark, os.path.join(sf_dir, f"{name}.parquet"))
        return df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events_file(spark: SparkSession, path: str, time_col: str = "ts") -> DataFrame:
    """Path-based events loader (the body of load_table's events
    branch): normalize the timestamp column across the three forms
    real event dumps ship in — TIMESTAMP(NANOS) (Spark's reader rejects;
    read as long and truncate, bit-identical to DuckDB's TIMESTAMP_NS ->
    TIMESTAMP conversion), TIMESTAMP(MICROS) without isAdjustedToUTC
    (Spark 4 infers TIMESTAMP_NTZ, which unix_micros rejects; NTZ
    inference disabled so micros arrive as plain TIMESTAMP at the scan,
    pushdown on the column preserved), and plain TIMESTAMP. The NTZ cast
    below is a belt-and-braces fallback; the session timezone is pinned
    UTC, so the instant matches DuckDB's naive reading."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    if time_col in df.columns:
        dt = df.schema[time_col].dataType
        if isinstance(dt, LongType):
            df = df.withColumn(
                time_col, F.timestamp_micros(F.expr(f"`{time_col}` div 1000"))
            )
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn(time_col, F.col(time_col).cast("timestamp"))
    return df
