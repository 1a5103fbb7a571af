"""Scale helpers shared by the extension operators: a small-file
parallelism guard and a scoped switch to size-based shuffle coalescing."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than cores —
    the small-file trap: a CPU-heavy projection (regex normalization,
    shingling, hashing) over a single small parquet split runs on one task
    no matter how many executors exist. At real scale a 100 TB scan has
    thousands of splits and this is a no-op; the guard means we never pay
    a shuffle that isn't buying parallelism.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    # getNumPartitions is plan metadata — no job is triggered
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


@contextmanager
def size_coalesced_shuffles(spark):
    """Scope AQE's SIZE-based shuffle coalescing to a bounded-frame
    iterative section (optimization r15, guide §2.2/§2.4).

    The session default keeps `parallelismFirst=true` so big CPU-bound
    shuffles (the flagship window) never collapse below cluster
    parallelism — but that floor makes every shuffle in a bounded
    iterative loop (connected-components labels, q-digest nodes, BPE
    vocabulary rounds: frames of at most a few thousand rows) run at
    >= defaultParallelism tasks PER ROUND, so the loops pay dozens of
    task launches per iteration for microseconds of work. Inside this
    scope AQE coalesces by size (advisory/minPartitionSize), which is
    scale-adaptive by construction: a few-KB label frame becomes one
    task at bench scale while a multi-GB frame at production scale
    still gets size-proportional parallelism. The conf is read at
    EXECUTION time, so the scope must cover the loop's eager actions
    (localCheckpoint/first/count) — results are unaffected (partitioning
    never changes what exact aggregates/joins compute), only task
    counts."""
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = "true"
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
