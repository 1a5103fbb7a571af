"""Physical-layout operators for scale: skew salting and bucketed layouts.

These don't change query semantics — they change WHERE rows live so the
shuffles that dominate 100 TB plans either disappear (bucketing) or stop
stalling on hot keys (salting). AQE's skew-join splitting handles the
join case automatically.

Salting, honestly scoped (measured, PERF.md §20): for decomposable
aggregates (sum/count/min/max) Spark's map-side partial aggregation
already collapses a hot key to one row per task — salting only adds a
second shuffle and LOSES locally. Its real case is aggregates whose
partial state grows with group size (collect_list/set, exact distinct):
there a hot key concentrates its entire state on one reducer, which on a
cluster means a straggler or an OOM — salting bounds per-reducer state at
the price of the extra shuffle. Use it for feasibility under extreme
skew, not as a default speedup.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: list[Column],
    merge_aggs: list[Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys: partial-agg on (key, salt),
    then final-agg on key. Decomposable aggregates only (sum/count/min/max —
    the caller supplies the matching merge expressions). Example:

        salted_agg(ev, "user_id",
                   aggs=[F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")],
                   merge_aggs=[F.sum("n").alias("n"), F.sum("s").alias("s")])

    The salt is a deterministic hash of the full row, spreading one hot key
    over `salt_buckets` reducers; the second shuffle moves only
    buckets x distinct-keys partial rows.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    partial = df.withColumn("__salt", salt).groupBy(key, "__salt").agg(*aggs)
    return partial.groupBy(key).agg(*merge_aggs)


def key_skew_report(df: DataFrame, key: str, top_k: int = 10) -> DataFrame:
    """Cheap skew diagnostic for a prospective window/groupBy key: the
    top-k key counts against the uniform per-partition budget. One
    aggregation pass over (key) plus a 1-row global aggregate (broadcast —
    bounded by construction).

    Columns: key, n, share (fraction of all rows), hot_vs_uniform
    (n / (total / spark.sql.shuffle.partitions)). hot_vs_uniform > 1 means
    that single key alone overflows an average shuffle partition — AQE can
    split skewed JOIN/shuffle partitions but NOT window partitions
    (Window.partitionBy(key) must see the whole key on one task), so a hot
    key here will straggle any window over it; that is the signal to
    pick a higher-cardinality key or a two-pass bucketed plan (the
    dedup.sample_token_budget_bucketed model)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.sum("n").alias("__total"), F.count(F.lit(1)).alias("__n_keys")
    )
    return (
        counts.orderBy(F.desc("n"), key)
        .limit(top_k)
        .crossJoin(F.broadcast(totals))
        .select(
            key,
            "n",
            (F.col("n") / F.col("__total")).alias("share"),
            (F.col("n") * n_part / F.col("__total")).alias("hot_vs_uniform"),
            F.col("__n_keys").alias("n_keys"),
        )
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    num_buckets: int = 64,
    sort_key: str | list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist a bucketed (and optionally sorted) table so future equi-joins
    and groupBys on `bucket_key` skip the shuffle entirely — both sides
    co-located by bucket. The reference's repeated change-queries over the
    same score matrix are the canonical win (SURVEY §4: pre-bucketing by cve
    avoids re-shuffles across repeated quantizations)."""
    writer = df.write.mode("overwrite").format("parquet")
    if path:
        writer = writer.option("path", path)
    writer = writer.bucketBy(num_buckets, bucket_key)
    if sort_key:
        keys = [sort_key] if isinstance(sort_key, str) else list(sort_key)
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)


def repartition_for_window(df: DataFrame, key: str, partitions: int | None = None) -> DataFrame:
    """Pre-shuffle on the window key so N chained window ops over the same
    key reuse one exchange (Catalyst already collapses same-key windows;
    this pins the layout across cache/checkpoint boundaries too)."""
    return df.repartition(partitions, key) if partitions else df.repartition(key)


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
