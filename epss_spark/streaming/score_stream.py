"""Continuous quality-gate monitoring — the frozen linear classifier's
score distribution over INCOMING documents as a stream
(operators/classifier.py's streaming twin, the 13th stream module).

A production corpus pipeline gates every drop with a frozen quality
scorer (DEPLOYMENT.md step 4). The gate's pass RATE is the lagging
signal; the score DISTRIBUTION is the leading one — mass sliding
toward the threshold or a new lobe appearing means the crawl mix
changed (spam influx, a scraper regression, an eval-suite ingestion)
before the pass rate moves. This module keeps that distribution live:
per micro-batch, one featurize + one map-only score against the frozen
weights + ONE n_buckets-row aggregate of additive integers —
(bucket, n, quantized score sum) — appended as an epoch-scoped delta.

Integer sums commute, so this is the kmeans/drift/quality
additive family: delivery order, batch splits, and replays
(epoch-scoped overwrites) are all irrelevant, and the snapshot equals
the batch `score_histogram` over the union of everything delivered,
bit-exactly (pinned in tests, including out-of-order delivery). No
ordering contract, no `.late` sibling. Input contract and audit are
the family's: each doc id EXACTLY once, audited by count AND by the
`.ids` id-checksum sibling (streaming/id_audit.py).

State size: <= n_buckets rows per epoch, additively compacted —
per-read state is O(n_buckets * compact_every) regardless of stream
lifetime.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epss_spark.operators import classifier
from epss_spark.streaming.dedup_stream import (
    _write_epoch,
    autocompact_epoch,
    read_artifact,
)
from epss_spark.streaming.id_audit import read_id_checksum, write_id_audit_epoch


def _fold_scores(df: DataFrame) -> DataFrame:
    """Additive compaction transform: one row per bucket, both integers
    summed, max(__epoch) keeps folded rows attributed to a committed
    epoch."""
    return df.groupBy("bucket").agg(
        F.sum("n").alias("n"),
        F.sum("__qs").alias("__qs"),
        F.max("__epoch").alias("__epoch"),
    )


def score_delta(
    batch_df: DataFrame,
    weights: Sequence[float],
    bias: float,
    feature_scale: float = 8.0,
    n_buckets: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: float = classifier.QUANT,
    impl: str = "auto",
) -> DataFrame:
    """This batch's per-bucket score sums against the frozen model:
    (bucket, n, __qs quantized score sum). The EXACT same bucket and
    quantization expressions as classifier.score_histogram, so folded
    deltas reproduce its report bit-for-bit."""
    feats = classifier.hashed_features(
        batch_df.select(id_col, text_col), dim=len(weights), id_col=id_col,
        text_col=text_col, feature_scale=feature_scale,
    )
    scored = classifier.linear_score(feats, weights, bias, impl=impl)
    bucket = F.least(
        F.floor(F.col("score") * F.lit(n_buckets)), F.lit(n_buckets - 1).cast("long")
    ).cast("int")
    q = F.floor(F.col("score") * F.lit(quant) + F.lit(0.5)).cast("long")
    return (
        scored.select(bucket.alias("bucket"), q.alias("__q"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__q").alias("__qs"))
    )


def process_score_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    weights: Sequence[float],
    bias: float,
    feature_scale: float = 8.0,
    n_buckets: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: float = classifier.QUANT,
    compact_every: int | None = 64,
    audit_id_col: str | None = "doc_id",
    impl: str = "auto",
) -> None:
    """One idempotent epoch: the batch's per-bucket score delta,
    appended epoch-scoped, plus the `.ids` audit row. A foreachBatch
    replay overwrites `epoch-N/` with the identical recomputed delta
    (featurize + the frozen-weight projection are deterministic)."""
    if batch_df.isEmpty():
        return
    delta = score_delta(
        batch_df, weights, bias, feature_scale, n_buckets,
        id_col=id_col, text_col=text_col, quant=quant, impl=impl,
    ).withColumn("__epoch", F.lit(int(epoch_id)))
    _write_epoch(delta, state_path, epoch_id)
    autocompact_epoch(
        batch_df.sparkSession, state_path, epoch_id, compact_every,
        transform=_fold_scores,
    )
    if audit_id_col is not None:
        write_id_audit_epoch(
            batch_df, epoch_id, state_path, audit_id_col, compact_every
        )


def score_snapshot(
    spark: SparkSession, state_path: str, quant: float = classifier.QUANT
) -> DataFrame:
    """The live score distribution over everything the stream has seen:
    (bucket, n, avg_score) — bit-identical to classifier.score_histogram
    over the union of all batches (same quantized sums, same division
    chain). Lazy; one additive aggregate over the bounded store."""
    df = read_artifact(spark, state_path)
    folded = df.groupBy("bucket").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("__qs").cast("long").alias("__qs"),
    )
    return folded.select(
        "bucket",
        "n",
        (
            F.col("__qs").cast("double") / F.col("n").cast("double") / F.lit(quant)
        ).alias("avg_score"),
    )


def score_total(spark: SparkSession, state_path: str) -> int:
    """Total docs absorbed (count half of the exactly-once audit)."""
    row = read_artifact(spark, state_path).agg(F.sum("n").alias("t")).collect()[0]
    return int(row["t"] or 0)


def score_checksum(spark: SparkSession, state_path: str) -> tuple[int, int] | None:
    """Content half of the exactly-once audit — compare against
    kmeans_stream.corpus_id_checksum(corpus); None when the stream ran
    with audit_id_col=None."""
    return read_id_checksum(spark, state_path)


def start_score_stream(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    weights: Sequence[float],
    bias: float,
    feature_scale: float = 8.0,
    n_buckets: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: float = classifier.QUANT,
    compact_every: int | None = 64,
    available_now: bool = True,
    audit_id_col: str | None = "doc_id",
):
    """Continuous quality-gate monitoring over a document stream: per
    micro-batch, append the batch's per-bucket score delta against the
    frozen linear model; read the live distribution any time with
    `score_snapshot` and alert on mass shifting across the gate
    threshold — the crawl-mix-changed signal that fires before the
    pass rate moves."""
    from epss_spark.streaming.carried_state import start_carried_stream

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_score_batch(
            batch_df, epoch_id, state_dir, weights, bias, feature_scale,
            n_buckets, id_col=id_col, text_col=text_col, quant=quant,
            compact_every=compact_every, audit_id_col=audit_id_col,
        )

    return start_carried_stream(doc_stream, checkpoint_dir, process_batch, available_now)
