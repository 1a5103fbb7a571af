"""Format readers (reference: epss/util.py:15-30 — extension-dispatched
read of CSV/JSON/JSONL/Parquet) re-expressed as Spark scans with explicit
schemas. Schema is always supplied by the caller — inference is a dev-time
convenience, not a production path.

`read_snapshots` is the ingestion scan for raw upstream daily files: the
date is NOT in the file, it is recovered from the filename
(reference: epss/client.py:487-494), and post-2022 files carry a one-line
`#...` comment header that must be skipped (reference: epss/client.py:185-189).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from epss_spark.functions.scalars import filename_date
from epss_spark.schemas import RAW_SNAPSHOT_SCHEMA

FORMATS = ("parquet", "csv", "json", "jsonl")


def infer_format(path: str) -> str:
    """Extension sniffing (reference: epss/util.py:234-239)."""
    base = path[:-3] if path.endswith(".gz") else path
    ext = os.path.splitext(base)[1].lstrip(".").lower()
    if ext in FORMATS:
        return ext
    raise ValueError(f"cannot infer format from {path!r}")


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Read any supported format. JSON means a row-oriented JSON array
    (multiLine); JSONL is newline-delimited."""
    fmt = fmt or infer_format(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "csv":
        reader = spark.read.option("header", True).option("comment", "#")
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", True)
        return reader.csv(path)
    if fmt in ("json", "jsonl"):
        reader = spark.read
        if fmt == "json":
            reader = reader.option("multiLine", True)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(path)
    raise ValueError(f"unsupported format {fmt!r}")


def write_any(df: DataFrame, path: str, fmt: str | None = None, mode: str = "overwrite") -> None:
    """Format-dispatched writer (reference: epss/util.py:33-52). JSON-array
    and Excel outputs are driver-side conversions of bounded result sets —
    see epss_spark.sources.sinks."""
    fmt = fmt or infer_format(path)
    writer = df.write.mode(mode)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.option("header", True).csv(path)
    elif fmt == "jsonl":
        writer.json(path)
    else:
        raise ValueError(f"unsupported distributed write format {fmt!r}")


def read_snapshots(
    spark: SparkSession,
    paths: str | list[str],
    fmt: str = "csv",
) -> DataFrame:
    """Scan raw daily snapshot files into the canonical 4-column score table.

    - comment-header skip via the `comment` option (no row scan needed)
    - `date` recovered from the filename via regexp over input_file_name()
    - canonical column order enforced (reference: epss/client.py:264)
    """
    if fmt == "csv":
        df = (
            spark.read.schema(RAW_SNAPSHOT_SCHEMA)
            .option("header", True)
            .option("comment", "#")
            .csv(paths)
        )
    elif fmt == "parquet":
        df = spark.read.parquet(*paths if isinstance(paths, list) else [paths])
    else:
        raise ValueError(f"unsupported snapshot format {fmt!r}")
    if "date" not in df.columns:
        df = df.withColumn("date", filename_date())
    return df.select("date", "cve", F.col("epss").cast("double"), F.col("percentile").cast("double"))


def date_partitioned_write(
    df: DataFrame, root: str, mode: str = "overwrite", dynamic: bool = False
) -> None:
    """Persist the score table as Hive-style `date=`-partitioned Parquet —
    the physical layout that turns the reference's filename-driven file
    enumeration (epss/util.py:320-335) into Catalyst partition pruning.

    ``dynamic=True``: overwrite only the partitions present in `df`
    (incremental ingest — re-running a date range replaces those days and
    leaves the rest of the dataset untouched, matching the reference's
    idempotent per-day file drops)."""
    writer = df.write.mode(mode).partitionBy("date")
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(root)
