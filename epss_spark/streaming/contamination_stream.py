"""Continuous benchmark-contamination monitoring — the audit
(operators/dedup.py::contamination_report) as a stream.

A crawl pipeline lands new document files continuously; the contamination
audit should not wait for a nightly full-corpus pass. Each micro-batch is
checked against the FIXED eval sets (benchmarks are static, broadcast-
sized) and the per-(benchmark, method) hit counts plus the batch doc
count append as additive epoch-scoped deltas — no carried state at all:
the eval set is the "state" and it never changes.
`contamination_snapshot` sums the committed deltas back into the exact
`contamination_report` row shape over everything the stream has seen.

Input contract (same as the dedup document streams): each document id
arrives EXACTLY once across the stream's lifetime (append-only drops of
new crawl output). A re-delivered doc would double-count — replays are
still safe (epoch-scoped overwrites, `_read_committed` discipline), the
contract is about the SOURCE feeding each doc once. Under it, per-batch
distinct-doc hit counts sum to the union's distinct-doc counts exactly,
so snapshot == one-shot report (pinned in tests).

Zero rows ride along: each epoch's delta is left-joined onto the full
(benchmark, method) grid, so a clean benchmark is visible as
checked-and-clean from the first epoch, and the totals row
(`__all__`/`__docs__`) carries the denominator without a store-wide
recount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epss_spark.operators import dedup
from epss_spark.streaming.dedup_stream import (
    _write_epoch,
    autocompact_epoch,
    read_artifact,
)

# the denominator rides the same additive store under reserved labels —
# one artifact, one fold, one read
_TOTAL_BENCH = "__all__"
_TOTAL_METHOD = "__docs__"


def _fold_counts(df: DataFrame) -> DataFrame:
    """Additive compaction transform: one row per (benchmark, method),
    max(__epoch) keeps folded rows attributed to a committed epoch so the
    replay filter stays exact."""
    return df.groupBy("benchmark", "method").agg(
        F.sum("n").alias("n"), F.max("__epoch").alias("__epoch")
    )


def process_contamination_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    eval_sets: DataFrame,
    bench_col: str = "benchmark",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    compact_every: int | None = 64,
    eval_vecs: DataFrame | None = None,
    sem_centroids: list[list[float]] | None = None,
    sem_threshold: float = 0.99,
    vec_col: str = "embedding",
) -> None:
    """One idempotent epoch: run the audit's detection core over the
    batch against the static eval sets, append the (benchmark, method)
    hit-count delta (zero rows included) plus the batch doc-count row
    epoch-scoped. A foreachBatch replay overwrites `epoch-N/` with the
    identical recomputed delta. Scale shape per batch: every eval-side
    artifact broadcasts, the batch never shuffles on its own grain, one
    bounded (benchmark, method) aggregate.

    SEMANTIC tier (round 14, optional — pass eval_vecs + sem_centroids
    when the crawl batches carry a `vec_col` embedding next to the
    text): each batch doc's embedding is cosine-checked against the
    static broadcast eval embeddings within shared anchor-centroid
    cells (similarity.semantic_decontam_hits), adding a fourth
    'semantic' method row per benchmark — the full-rewording leakage
    the three lexical tiers cannot see, monitored continuously. A
    doc's semantic flags depend only on ITS embedding plus the static
    eval/centroid state, so per-batch distinct counts stay additive
    exactly like the lexical tiers (snapshot == one-shot report with
    the same semantic inputs, pinned in tests). eval_vecs carries
    (bench_col, id, vec_col); both-or-neither of eval_vecs /
    sem_centroids, like the batch report."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    hits = dedup._contamination_hits(
        batch_df, eval_sets, bench_col, id_col, text_col,
        k, num_hashes, bands, threshold,
    )
    methods = ["exact", "spans", "near"]
    if eval_vecs is not None or sem_centroids is not None:
        if eval_vecs is None or sem_centroids is None:
            raise ValueError(
                "process_contamination_batch: the semantic tier needs "
                "both eval_vecs and sem_centroids"
            )
        from epss_spark.operators.similarity import semantic_decontam_hits

        e_vecs = eval_vecs.select(
            F.col(bench_col).alias("benchmark"),
            F.concat_ws(
                "|", F.col(bench_col).cast("string"), F.col(id_col).cast("string")
            ).alias("__eid"),
            F.col(vec_col),
        )
        sem = semantic_decontam_hits(
            batch_df.filter(F.col(vec_col).isNotNull()),
            e_vecs, sem_centroids, threshold=sem_threshold,
            id_col=id_col, vec_col=vec_col, eval_id_col="__eid",
        )
        sem_hits = (
            sem.join(
                F.broadcast(
                    e_vecs.select("benchmark", F.col("__eid").alias("eval_id")).distinct()
                ),
                "eval_id",
            )
            .select("benchmark", F.col("corpus_id").alias("__cid"))
            .withColumn("method", F.lit("semantic"))
        )
        hits = hits.unionByName(sem_hits)
        methods.append("semantic")
    counts = hits.groupBy("benchmark", "method").agg(
        F.countDistinct("__cid").alias("n")
    )
    delta = (
        dedup._contamination_grid(eval_sets, bench_col, methods)
        .join(counts, ["benchmark", "method"], "left")
        .select(
            "benchmark",
            "method",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
        .unionByName(
            batch_df.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
                F.lit(_TOTAL_BENCH).alias("benchmark"),
                F.lit(_TOTAL_METHOD).alias("method"),
                "n",
            )
        )
        .withColumn("__epoch", F.lit(int(epoch_id)))
    )
    _write_epoch(delta, state_path, epoch_id)
    autocompact_epoch(
        spark, state_path, epoch_id, compact_every, transform=_fold_counts
    )


def contamination_snapshot(spark: SparkSession, state_path: str) -> DataFrame:
    """Current audit table from the store: (benchmark, method,
    n_contaminated, rate) — identical shape and, under the
    each-doc-arrives-once contract, identical values to
    `contamination_report` over everything the stream has seen. Lazy:
    one additive aggregate plus the broadcast 1-row denominator."""
    sums = read_artifact(spark, state_path).groupBy("benchmark", "method").agg(
        F.sum("n").cast("long").alias("n")
    )
    is_total = (F.col("benchmark") == _TOTAL_BENCH) & (
        F.col("method") == _TOTAL_METHOD
    )
    total = sums.filter(is_total).select(F.col("n").alias("__total"))
    return (
        sums.filter(~is_total)
        .crossJoin(F.broadcast(total))
        .select(
            "benchmark",
            "method",
            F.col("n").alias("n_contaminated"),
            F.round(F.col("n").cast("double") / F.col("__total"), 6).alias("rate"),
        )
    )


def contamination_trend(spark: SparkSession, state_path: str) -> DataFrame:
    """Per-epoch contamination series: (epoch, benchmark, method, n,
    n_docs, rate) — one row per audited (benchmark, method) per epoch,
    each epoch's rate over ITS OWN batch. This is the monitoring read (a
    step change names the drop where a scrape swallowed an eval suite);
    `contamination_snapshot` is the cumulative audit.

    Caveat, by construction: in-stream auto-compaction FOLDS epochs
    (additive sum attributed to the newest committed epoch), so the
    trend's resolution is per-epoch only for epochs newer than the last
    compaction fold — older history appears as one merged row. Run the
    monitor with `compact_every=None` (or mirror deltas to a long-term
    store) when the full series matters more than bounded reads."""
    df = read_artifact(spark, state_path)
    is_total = (F.col("benchmark") == _TOTAL_BENCH) & (
        F.col("method") == _TOTAL_METHOD
    )
    totals = df.filter(is_total).select(
        F.col("__epoch").alias("epoch"), F.col("n").alias("n_docs")
    )
    return (
        df.filter(~is_total)
        .select(F.col("__epoch").alias("epoch"), "benchmark", "method", "n")
        .join(totals, "epoch")
        .select(
            "epoch",
            "benchmark",
            "method",
            "n",
            "n_docs",
            F.round(F.col("n").cast("double") / F.col("n_docs"), 6).alias("rate"),
        )
    )


def start_contamination_stream(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    eval_sets: DataFrame,
    bench_col: str = "benchmark",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    compact_every: int | None = 64,
    available_now: bool = True,
    eval_vecs: DataFrame | None = None,
    sem_centroids: list[list[float]] | None = None,
    sem_threshold: float = 0.99,
    vec_col: str = "embedding",
):
    """Continuous contamination monitoring over a document stream: per
    micro-batch, append the batch's per-(benchmark, method) hit deltas;
    read the live audit table any time with `contamination_snapshot`.
    A rate step-change between epochs is the earliest signal a scrape
    started swallowing an eval suite. Pass eval_vecs + sem_centroids
    (and carry embeddings in the stream's `vec_col`) to monitor the
    SEMANTIC rung continuously alongside the lexical three."""
    from epss_spark.streaming.carried_state import start_carried_stream

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_contamination_batch(
            batch_df, epoch_id, state_dir, eval_sets, bench_col, id_col,
            text_col, k, num_hashes, bands, threshold,
            compact_every=compact_every,
            eval_vecs=eval_vecs, sem_centroids=sem_centroids,
            sem_threshold=sem_threshold, vec_col=vec_col,
        )

    return start_carried_stream(
        docs_stream, checkpoint_dir, process_batch, available_now
    )
