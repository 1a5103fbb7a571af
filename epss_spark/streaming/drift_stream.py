"""Continuous embedding-distribution monitoring — embedding_dim_drift
as a stream.

The batch monitor (operators/clustering.py::embedding_dim_drift)
compares per-dimension means of two corpora. The streaming form
maintains the incoming side's (dim_idx, n, s, s2) quantized-sum store
incrementally: each micro-batch appends its OWN per-dimension sums as
an epoch-scoped delta (pure function of the batch — no state read on
the write path, so replay safety is free: a retried epoch overwrites
`epoch-N/` with the identical recomputed delta), and the live report
joins the folded store against a frozen REFERENCE corpus's sums with
the identical mean/delta expressions.

Like the kmeans stream this is the additive family: integer
sums commute, so delivery order, batch splits, and late arrivals are
all irrelevant — the snapshot equals
`embedding_dim_drift(reference, union_of_all_batches)` unconditionally
(pinned in tests, including out-of-order delivery). No ordering
contract, no `.late` sibling. Input contract is kmeans_stream's: each
vector arrives EXACTLY once across the stream's lifetime (cross-epoch
re-delivery double-counts; `dim_drift_total` exposes sum-n/dim for the
same audit the k-means promotion gate runs).

State size: `dim` rows per epoch, folded by the additive compaction
transform every `compact_every` epochs — per-read state is O(dim +
compact_every * dim) regardless of stream lifetime.

Deployment use: freeze the reference sums from the corpus that built
the current ANN index / k-means model; alert when the live snapshot's
delta vector steps — the earliest signal an encoder bump or scraper
regression is about to invalidate every embedding-space artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epss_spark.operators import clustering
from epss_spark.streaming.dedup_stream import (
    _write_epoch,
    autocompact_epoch,
    read_artifact,
)


def _fold_dim_sums(df: DataFrame) -> DataFrame:
    """Additive compaction transform: one row per dimension, sums summed,
    max(__epoch) keeps folded rows attributed to a committed epoch."""
    return df.groupBy("dim_idx").agg(
        F.sum("n_b").alias("n_b"),
        F.sum("__s_b").alias("__s_b"),
        F.sum("__s2_b").alias("__s2_b"),
        F.max("__epoch").alias("__epoch"),
    )


def process_dim_drift_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    vec_col: str = "embedding",
    quant: float = clustering.QUANT,
    compact_every: int | None = 64,
    id_col: str | None = "vec_id",
) -> None:
    """One idempotent epoch: this batch's per-dimension (n, quantized
    sum, quantized sum-of-squares) delta, appended epoch-scoped. One
    aggregate of the batch, dim result rows; no store read, no join.

    With `id_col` set (default), a one-row (n, id-hash XOR) delta also
    appends to the `<state_path>.ids` sibling — the content half of the
    exactly-once audit (same design as kmeans_stream: order-free,
    overflow-free, replay-safe via the epoch-scoped overwrite), read
    back by dim_drift_checksum. id_col=None skips the sibling (the
    audit is then explicitly unavailable)."""
    if batch_df.isEmpty():
        return
    delta = clustering.dim_quant_sums(
        batch_df, "b", vec_col=vec_col, quant=quant
    ).withColumn("__epoch", F.lit(int(epoch_id)))
    _write_epoch(delta, state_path, epoch_id)
    autocompact_epoch(
        batch_df.sparkSession, state_path, epoch_id, compact_every,
        transform=_fold_dim_sums,
    )
    if id_col is not None:
        from epss_spark.streaming.id_audit import write_id_audit_epoch

        write_id_audit_epoch(batch_df, epoch_id, state_path, id_col, compact_every)


def dim_sums_snapshot(spark: SparkSession, state_path: str) -> DataFrame:
    """Folded per-dimension sums over everything the stream has seen:
    (dim_idx, n_b, __s_b, __s2_b). Lazy; one additive aggregate over
    the bounded store."""
    return (
        read_artifact(spark, state_path)
        .groupBy("dim_idx")
        .agg(
            F.sum("n_b").cast("long").alias("n_b"),
            F.sum("__s_b").cast("long").alias("__s_b"),
            F.sum("__s2_b").cast("long").alias("__s2_b"),
        )
    )


def dim_drift_total(spark: SparkSession, state_path: str) -> int:
    """Total vectors the store has absorbed (sum n over dims / dim) —
    the COUNT half of the exactly-once audit, same role as
    kmeans_snapshot_total: compare against the corpus size you expect
    before trusting the report. dim_drift_checksum is the stronger
    content half."""
    row = dim_sums_snapshot(spark, state_path).agg(
        F.sum("n_b").alias("t"), F.count(F.lit(1)).alias("d")
    ).collect()[0]
    total, dims = int(row["t"] or 0), int(row["d"] or 0)
    return total // dims if dims else 0


def dim_drift_checksum(spark: SparkSession, state_path: str) -> tuple[int, int] | None:
    """The CONTENT half of the exactly-once audit: (count, XOR of
    per-id 60-bit hashes) folded from the `.ids` sibling — compare
    against kmeans_stream.corpus_id_checksum(corpus) before trusting
    the drift report; a mismatch means duplicate or dropped deliveries,
    including the count-neutral duplicate+drop cases dim_drift_total
    cannot see. Returns None when the stream ran with id_col=None (no
    sibling store — the audit is explicitly unavailable)."""
    from epss_spark.streaming.id_audit import read_id_checksum

    return read_id_checksum(spark, state_path)


def drift_snapshot(
    spark: SparkSession,
    state_path: str,
    reference: DataFrame,
    vec_col: str = "embedding",
    quant: float = clustering.QUANT,
) -> DataFrame:
    """The live drift report: frozen reference corpus vs everything the
    stream has seen — bit-identical to
    embedding_dim_drift(reference, union_of_all_batches), because the
    store's integer sums fold to exactly the one-shot aggregate and the
    final mean/delta expressions are shared (drift_from_dim_sums)."""
    a = clustering.dim_quant_sums(reference, "a", vec_col=vec_col, quant=quant)
    b = dim_sums_snapshot(spark, state_path)
    return clustering.drift_from_dim_sums(a, b, quant=quant)


def start_dim_drift_stream(
    vec_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    quant: float = clustering.QUANT,
    compact_every: int | None = 64,
    available_now: bool = True,
    id_col: str | None = "vec_id",
):
    """Continuous embedding-distribution monitoring over a vector
    stream: per micro-batch, append the batch's per-dimension
    quantized-sum delta (plus the `.ids` audit sibling); read the live
    drift report any time with `drift_snapshot` against the frozen
    reference and audit it with dim_drift_checksum."""
    from epss_spark.streaming.carried_state import start_carried_stream

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_dim_drift_batch(
            batch_df, epoch_id, state_dir, vec_col, quant,
            compact_every=compact_every, id_col=id_col,
        )

    return start_carried_stream(vec_stream, checkpoint_dir, process_batch, available_now)
